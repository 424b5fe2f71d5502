-- REPLACE into a table without partitions: the whole table is truncated
-- and holds only the latest window.
SELECT
  event_type,
  COUNT(*) AS n_events,
  COUNT(DISTINCT user_id) AS n_users,
  CAST(SUM(CAST(value AS NUMERIC)) AS FLOAT64) AS total_value
FROM `bench-proj.src.events`
WHERE ts >= '__dstart__' AND ts < '__dend__'
GROUP BY event_type
