SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           sum(CAST(round(value * 100) AS BIGINT))::BIGINT / 100.0
             AS total_value
    FROM events
    GROUP BY 1, 2
