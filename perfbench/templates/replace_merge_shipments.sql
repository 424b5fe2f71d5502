-- REPLACE_MERGE with a partition filter: destination rows matching the
-- filter are deleted, then the result is inserted.
SELECT
  DATE(l_shipdate) AS ship_day,
  l_returnflag AS returnflag,
  COUNT(*) AS n_lines,
  CAST(SUM(CAST(l_extendedprice AS NUMERIC)) AS FLOAT64) AS gross
FROM `bench-proj.src.lineitem`
WHERE l_shipdate >= '__dstart__' AND l_shipdate < '__dend__'
GROUP BY 1, 2
