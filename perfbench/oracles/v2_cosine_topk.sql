WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
    top AS (
      -- rank and cut on the UNROUNDED similarity (like the Spark heap):
      -- an outer ORDER BY `sim` would resolve to the rounded output
      -- alias in DuckDB, and a 6-dp tie straddling the k boundary
      -- would then admit a different row than Spark's exact ranking
      SELECT vec_id, label,
             round(list_cosine_similarity(embedding::DOUBLE[], qe), 6) AS sim
      FROM embeddings, q
      WHERE vec_id <> 0
      ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
      LIMIT 10
    )
    SELECT vec_id, label, sim FROM top
