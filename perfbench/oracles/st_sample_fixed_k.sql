WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      FROM documents
    )
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
