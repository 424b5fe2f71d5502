-- REPLACE_MERGE without a filter: the days present in the result are
-- overwritten, other days stay.
SELECT
  DATE(o_orderdate) AS order_date,
  o_custkey AS custkey,
  COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS NUMERIC)) AS FLOAT64) AS spend
FROM `bench-proj.src.orders`
WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
GROUP BY 1, 2
