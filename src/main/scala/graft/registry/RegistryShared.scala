package graft

/** Oracle-SQL CTE fragments shared by more than one domain registry. */
private[graft] trait RegistryShared {

  /** `sql` with every CTE declared `AS MATERIALIZED` (each `name AS (`
    * or `name(cols) AS (` head that starts a line). DuckDB inlines every
    * reference to a plain CTE, so a long chain whose CTEs are read more
    * than once re-runs its whole prefix per reference and can exhaust
    * memory; a materialized CTE runs once. Results do not change.
    */
  protected def materializeCtes(sql: String): String =
    sql.replaceAll("""(?m)^(WITH (?:RECURSIVE\s+)?)?(\w+(?:\([^)]*\))?) AS \(""",
      "$1$2 AS MATERIALIZED (")

  /** Shared CTE: 32-bit md5 SimHash per doc — mirrors
    * [[graft.operators.Dedup.simhashMd5]] (lowercased whitespace
    * tokens, h = first 8 hex chars of md5, per-bit votes, Σ 2^bit).
    */
  protected val simhashMd5Cte: String =
    """t AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |hh AS (SELECT doc_id, CAST(concat('0x', substr(md5(tok),1,8)) AS BIGINT) AS h FROM t),
      |v AS (SELECT doc_id, b, sum(CASE WHEN (h >> CAST(b AS INTEGER)) & 1 = 1 THEN 1 ELSE -1 END) AS votes
      |      FROM hh CROSS JOIN (SELECT unnest(range(0, 32)) AS b) bits GROUP BY 1, 2),
      |fp AS (SELECT doc_id,
      |              CAST(sum(CASE WHEN votes > 0 THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER)) ELSE 0 END) AS BIGINT) AS simhash32
      |       FROM v GROUP BY doc_id)""".stripMargin

  /** Shared CTE chain re-deriving
    * [[graft.operators.Dedup.minhashNearDupsMd5]]'s banded candidate
    * pairs over table `src` (which must expose doc_id + text): ends
    * with a `pairs(doc_a, doc_b, sa, sb)` CTE. The affine minhash
    * coefficients are embedded as literals so both engines evaluate
    * the identical integer arithmetic.
    */
  protected def minhashPairCtes(src: String): String = {
    import graft.functions.Md5MinHashSignature.{A, B, M}
    val n = 16; val bands = 4; val rpb = n / bands
    val minCols = (0 until n).map(i =>
      s"min((h * ${A(i)} + ${B(i)}) % $M) AS s$i").mkString(",\n               ")
    val sigList = (0 until n).map(i => s"coalesce(s$i, $M)").mkString("[", ", ", "]")
    val bandArms = (0 until bands).map { bnd =>
      val key = (bnd * rpb until (bnd + 1) * rpb).map(i => s"sig[${i + 1}]")
        .mkString("concat_ws(',', ", ", ", ")")
      s"SELECT doc_id, sig, $bnd AS band_idx, $key AS band_key FROM sig"
    }.mkString("\n       UNION ALL\n       ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $src),
       |shl AS (SELECT doc_id,
       |               list_distinct(CASE WHEN len(ws) >= 5
       |                 THEN list_transform(range(0, len(ws)-4),
       |                        i -> array_to_string(ws[CAST(i+1 AS INTEGER):CAST(i+5 AS INTEGER)], ' '))
       |                 ELSE [] END) AS shs
       |        FROM w),
       |sh AS (SELECT doc_id, unnest(shs) AS sh FROM shl),
       |hh AS (SELECT doc_id, CAST(concat('0x', substr(md5(sh),1,7)) AS BIGINT) AS h FROM sh),
       |sig0 AS (SELECT doc_id, $minCols
       |         FROM hh GROUP BY doc_id),
       |sig AS (SELECT d.doc_id, $sigList AS sig
       |        FROM (SELECT doc_id FROM $src) d LEFT JOIN sig0 USING (doc_id)),
       |b AS ($bandArms),
       |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, a.sig AS sa, c.sig AS sb
       |          FROM b a JOIN b c USING (band_idx, band_key)
       |          WHERE a.doc_id < c.doc_id)""".stripMargin
  }

}
