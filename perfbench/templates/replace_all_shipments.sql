-- REPLACE_ALL into an ingestion-day table: the whole window lands in the
-- partition of the window start.
SELECT
  l_returnflag AS returnflag,
  l_linestatus AS linestatus,
  COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_quantity AS NUMERIC)) AS FLOAT64) AS quantity
FROM `bench-proj.src.lineitem`
WHERE l_shipdate >= '__dstart__' AND l_shipdate < '__dend__'
GROUP BY 1, 2
