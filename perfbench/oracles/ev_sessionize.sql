WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w <= 1800000000
                  THEN 0 ELSE 1 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM ordered
    ), sessions AS (
      SELECT user_id, session_id, count(*) AS n_events,
             epoch_us(min(ts)) AS start_us,
             epoch_us(max(ts)) AS end_us
      FROM numbered
      GROUP BY user_id, session_id
    )

    SELECT user_id, session_id, n_events,
           start_us AS session_start_us,
           end_us AS session_end_us
    FROM sessions
