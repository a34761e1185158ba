WITH RECURSIVE
    base AS (
      SELECT s_suppkey AS u,
             lead(s_suppkey) OVER (PARTITION BY s_nationkey ORDER BY s_suppkey) AS nxt,
             min(s_suppkey) OVER (PARTITION BY s_nationkey) AS mn
      FROM supplier
    ),
    e AS (
      SELECT u, v FROM (
        SELECT u, coalesce(nxt, mn) AS v FROM base
        UNION ALL
        SELECT u, mn AS v FROM base WHERE u <> mn
      ) t
    ),
    nodes AS (
      SELECT DISTINCT node FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) t
    ),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    deg AS (SELECT u, count(*)::DOUBLE AS d FROM e GROUP BY u),
    pr(iter, node, rank) AS (
      SELECT 0, node, 1.0::DOUBLE / (SELECT n FROM nn) FROM nodes
      UNION ALL
      SELECT p.iter + 1, e.v AS node,
             0.15::DOUBLE / (SELECT n FROM nn)
               + 0.85::DOUBLE * sum(p.rank / deg.d)
      FROM pr p
      JOIN deg ON deg.u = p.node
      JOIN e ON e.u = p.node
      WHERE p.iter < 8
      GROUP BY p.iter, e.v
    )
    SELECT node, round(rank, 6) AS rank FROM pr WHERE iter = 8
