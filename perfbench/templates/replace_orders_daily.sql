-- REPLACE into a DAY-partitioned table: compiled once per day of the window.
SELECT
  DATE(o_orderdate) AS order_date,
  o_orderpriority AS priority,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS revenue
FROM `bench-proj.src.orders`
WHERE o_orderdate >= '{{ .DSTART | Date }}' AND o_orderdate < '{{ .DEND | Date }}'
GROUP BY 1, 2
