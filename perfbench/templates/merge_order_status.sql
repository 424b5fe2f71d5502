MERGE `bench-proj.mart.order_status` T
USING (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, DATE(o_orderdate) AS order_date
  FROM `bench-proj.src.orders`
  WHERE o_orderdate >= '__dstart__' AND o_orderdate < '__dend__'
) S
ON T.orderkey = S.o_orderkey
WHEN MATCHED THEN
  UPDATE SET status = S.o_orderstatus, totalprice = S.o_totalprice, loaded_from = DATE('__dstart__')
WHEN NOT MATCHED THEN
  INSERT (orderkey, custkey, status, totalprice, order_date, loaded_from)
  VALUES (S.o_orderkey, S.o_custkey, S.o_orderstatus, S.o_totalprice, S.order_date, DATE('__dstart__'))
