SELECT l.l_orderkey AS orderkey,
           ((sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) // 100)::DOUBLE / 100 AS revenue,
           strftime(any_value(o.o_orderdate), '%Y-%m-%d') AS orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey
