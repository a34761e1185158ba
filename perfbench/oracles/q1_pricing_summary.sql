WITH g AS (
      SELECT l_returnflag, l_linestatus,
             count(*)::BIGINT AS n,
             sum(CAST(l_quantity AS BIGINT))::BIGINT AS qty,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS ep,
             sum(CAST(round(l_discount * 100) AS BIGINT))::BIGINT AS disc,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT)))::BIGINT
               AS dp,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(round(l_discount * 100) AS BIGINT))
                 * (100 + CAST(round(l_tax * 100) AS BIGINT)))::BIGINT AS ch
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           qty::DOUBLE AS sum_qty,
           ep::DOUBLE / 100 AS sum_base_price,
           ((dp + 50) // 100)::DOUBLE / 100 AS sum_disc_price,
           ((ch + 5000) // 10000)::DOUBLE / 100 AS sum_charge,
           ((2 * qty * 10000 + n) // (2 * n)) / 10000.0 AS avg_qty,
           ((2 * ep * 100 + n) // (2 * n)) / 10000.0 AS avg_price,
           ((2 * disc * 100 + n) // (2 * n)) / 10000.0 AS avg_disc,
           n AS count_order
    FROM g
