-- APPEND: the window's events land in a flat log; a re-run appends again.
SELECT
  event_id,
  DATE(ts) AS event_day,
  user_id,
  event_type,
  ROUND(value, 2) AS value
FROM `bench-proj.src.events`
WHERE ts >= '__dstart__' AND ts < '__dend__'
