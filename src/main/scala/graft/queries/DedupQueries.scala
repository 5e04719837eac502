package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.dedup.Dedup

/** Oracle queries for the dedup operators (training-data-pipeline suite):
  * exact hash dedup, MinHash signatures, LSH near-dup candidates with
  * estimate + exact-Jaccard verification, SimHash. All md5-seeded →
  * bit-identical across Spark and the DuckDB oracle.
  */
object DedupQueries {

  // Text.tokens replicated in DuckDB (OracleSql.toks) — the oracle must
  // normalize exactly like the Spark side or it only checks pre-normalized
  // fixtures (ADVICE r01).
  private val toksExpr = OracleSql.toks("text")

  /** q23: exact dedup by content hash (keep smallest id as canonical).
    * Plain scan, not [[Tables.balanced]] (r21): the only per-row compute is
    * one md5, so the balance repartition added a full-table exchange
    * (carrying `text`) ahead of the groupBy's own shuffle for nothing —
    * the map-side partial agg parallelizes exactly as well off the scan.
    */
  def q23DedupExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.exact(Tables(spark, dir, "documents"), "doc_id", "text")
      .orderBy($"content_md5")
  }

  val q23Sql: String =
    """SELECT md5(text) AS content_md5, MIN(doc_id) AS keep_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_dups
      |FROM documents GROUP BY 1 ORDER BY content_md5""".stripMargin

  /** q24: MinHash signatures (8 seeded hashes over 3-token shingles). */
  def q24MinhashSig(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.minHashSignatures(Tables.balanced(spark, dir, "documents"),
        "doc_id", "text", shingleSize = 3, numHashes = 8)
      .withColumn("seed", $"seed".cast("long"))
      .orderBy($"doc_id", $"seed")
  }

  val q24Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, $toksExpr AS toks FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM tok WHERE len(toks) >= 3
      |), sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM pos
      |), seeded AS (
      |  SELECT doc_id, sh, unnest(generate_series(0, 7)) AS seed FROM sh)
      |SELECT doc_id, CAST(seed AS BIGINT) AS seed,
      |  MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh), (seed % 4) * 8 + 1, 8)) AS minhash
      |FROM seeded GROUP BY doc_id, seed ORDER BY doc_id, seed""".stripMargin

  /** q25: near-dup detection end to end — LSH banding (4 bands × 2 rows)
    * emits candidate pairs, each scored by minhash-estimated Jaccard and
    * verified with exact unigram-set Jaccard. The n² never materializes:
    * only band-collision pairs are compared.
    */
  def q25NeardupLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.balanced(spark, dir, "documents")
    // verifyPairs passes est_jaccard through and appends jaccard: no re-join
    val pairs = Dedup.lshCandidatePairs(
      Dedup.minHashWide(docs, "doc_id", "text", 3, 8), "doc_id", bandRows = 2)
    Dedup.verifyPairs(pairs, docs, "doc_id", "text")
      .orderBy($"doc_a", $"doc_b")
  }

  val q25Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, $toksExpr AS toks FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM tok WHERE len(toks) >= 3
      |), sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM pos
      |), seeded AS (
      |  SELECT doc_id, sh, unnest(generate_series(0, 7)) AS seed FROM sh
      |), sig AS (
      |  SELECT doc_id, seed, MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh), (seed % 4) * 8 + 1, 8)) AS minhash
      |  FROM seeded GROUP BY doc_id, seed
      |), bands AS (
      |  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
      |    string_agg(minhash, '' ORDER BY seed) AS bsig
      |  FROM sig GROUP BY doc_id, band
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      |), est AS (
      |  SELECT doc_a, doc_b,
      |    SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / COUNT(*) AS est_jaccard
      |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
      |            JOIN sig sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
      |  GROUP BY doc_a, doc_b
      |), dtok AS (
      |  SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM tok
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM dtok GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cand c JOIN dtok ta ON ta.doc_id = c.doc_a
      |              JOIN dtok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT e.doc_a, e.doc_b, e.est_jaccard,
      |  i.i / (na.n + nb.n - i.i) AS jaccard
      |FROM est e JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      |  JOIN sizes na ON na.doc_id = e.doc_a
      |  JOIN sizes nb ON nb.doc_id = e.doc_b
      |ORDER BY e.doc_a, e.doc_b""".stripMargin

  /** q39: near-dup GROUPS — connected components over the LSH candidate
    * pairs with estimated Jaccard ≥ 0.5. Spark runs iterative min-label
    * propagation; the oracle derives the identical fixpoint with a
    * recursive transitive-closure CTE (component = min reachable id —
    * algorithm-independent, so both must agree exactly).
    */
  def q39NeardupGroups(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.balanced(spark, dir, "documents")
    val pairs = Dedup.lshCandidatePairs(
        Dedup.minHashWide(docs, "doc_id", "text", 3, 8), "doc_id", bandRows = 2)
      .filter($"est_jaccard" >= 0.5)
      .select($"doc_a", $"doc_b")
    Dedup.connectedComponents(pairs)
      .orderBy($"doc_id")
  }

  val q39Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, $toksExpr AS toks FROM documents
      |), pos AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |  FROM tok WHERE len(toks) >= 3
      |), sh AS (
      |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS sh FROM pos
      |), seeded AS (
      |  SELECT doc_id, sh, unnest(generate_series(0, 7)) AS seed FROM sh
      |), sig AS (
      |  SELECT doc_id, seed, MIN(substr(md5(CAST(seed // 4 AS VARCHAR) || '|' || sh), (seed % 4) * 8 + 1, 8)) AS minhash
      |  FROM seeded GROUP BY doc_id, seed
      |), bands AS (
      |  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
      |    string_agg(minhash, '' ORDER BY seed) AS bsig
      |  FROM sig GROUP BY doc_id, band
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bsig = b.bsig AND a.doc_id < b.doc_id
      |), est AS (
      |  SELECT doc_a, doc_b,
      |    SUM(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) / COUNT(*) AS ej
      |  FROM cand JOIN sig sa ON sa.doc_id = doc_a
      |            JOIN sig sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
      |  GROUP BY doc_a, doc_b
      |), und AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM est WHERE ej >= 0.5
      |  UNION SELECT doc_b, doc_a FROM est WHERE ej >= 0.5
      |), reach AS (
      |  WITH RECURSIVE r(src, dst) AS (
      |    SELECT src, dst FROM und
      |    UNION
      |    SELECT r.src, u.dst FROM r JOIN und u ON r.dst = u.src
      |  ) SELECT * FROM r)
      |SELECT src AS doc_id, LEAST(src, MIN(dst)) AS component
      |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin

  /** q38: embedding-cosine near-dup over DOCUMENTS — each doc joined to
    * its embedding (doc_id = vec_id), candidate pairs from deterministic
    * sign-bucket LSH, evidence = cosine (≥ 0.15) plus exact unigram
    * Jaccard of the two texts. The text join runs only on the candidate
    * pairs, so the expensive part is Σ bucket², never n².
    */
  def q38EmbedDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.balanced(spark, dir, "documents")
    val emb = Tables.balanced(spark, dir, "embeddings")
    val joined = docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select($"doc_id", $"text", $"embedding")
    val pairs = graft.sim.Similarity
      .bucketedPairs(joined, "doc_id", "embedding", bits = 8)
      .filter($"cosine" >= 0.15)
      .select($"vec_a".as("doc_a"), $"vec_b".as("doc_b"), $"cosine")
    // verifyPairs passes cosine through and appends jaccard — no re-join
    // of the verify output onto the pair frame (r21).
    Dedup.verifyPairs(pairs, docs, "doc_id", "text")
      .orderBy($"doc_a", $"doc_b")
  }

  val q38Sql: String =
    s"""WITH j AS (
      |  SELECT d.doc_id, d.text, e.embedding
      |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |), b AS (
      |  SELECT doc_id, text,
      |    array_to_string(list_transform(embedding[1:8],
      |      x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bucket
      |  FROM j
      |), dims AS (
      |  SELECT doc_id, unnest(generate_series(1, len(embedding))) AS dim,
      |    unnest(embedding) AS v
      |  FROM j
      |), nrm AS (
      |  SELECT doc_id, sqrt(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE))) AS n
      |  FROM dims GROUP BY doc_id
      |), cand AS (
      |  SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.doc_id < b2.doc_id
      |), cosed AS (
      |  SELECT c.doc_a, c.doc_b,
      |    round(SUM(CAST(da.v AS DOUBLE) * CAST(db.v AS DOUBLE))
      |          / (MIN(na.n) * MIN(nb.n)), 6) AS cosine
      |  FROM cand c JOIN dims da ON da.doc_id = c.doc_a
      |              JOIN dims db ON db.doc_id = c.doc_b AND db.dim = da.dim
      |              JOIN nrm na ON na.doc_id = c.doc_a
      |              JOIN nrm nb ON nb.doc_id = c.doc_b
      |  GROUP BY c.doc_a, c.doc_b
      |  HAVING cosine >= 0.15
      |), tok AS (
      |  SELECT doc_id, unnest(list_distinct($toksExpr)) AS tok
      |  FROM documents
      |), sizes AS (
      |  SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id
      |), inter AS (
      |  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
      |  FROM cosed c JOIN tok ta ON ta.doc_id = c.doc_a
      |               JOIN tok tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
      |  GROUP BY c.doc_a, c.doc_b)
      |SELECT c.doc_a, c.doc_b, c.cosine, i.i / (na.n + nb.n - i.i) AS jaccard
      |FROM cosed c JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      |  JOIN sizes na ON na.doc_id = c.doc_a
      |  JOIN sizes nb ON nb.doc_id = c.doc_b
      |ORDER BY c.doc_a, c.doc_b""".stripMargin

  /** q26: SimHash 64-bit signature per doc (as '0'/'1' string). */
  def q26Simhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.simHash(Tables.balanced(spark, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** q36: SimHash near-dup pairs — chunk banding (4×16-bit slices) for
    * candidates, codegen'd hamming verify, threshold 3.
    */
  def q36SimhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.simhashNearDup(Tables.balanced(spark, dir, "documents"),
        "doc_id", "text", maxHamming = 3, chunks = 4)
      .orderBy($"doc_a", $"doc_b")
  }

  val q36Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct($toksExpr)) AS tok
      |  FROM documents
      |), h AS (SELECT doc_id, md5(tok) AS h FROM tok
      |), bits AS (SELECT doc_id, h, unnest(generate_series(0, 63)) AS bit FROM h
      |), bv AS (
      |  SELECT doc_id, bit,
      |    CAST(floor((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
      |         / pow(2, 3 - (bit % 4))) AS INT) % 2 AS bitval
      |  FROM bits
      |), votes AS (
      |  SELECT doc_id, bit, SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM bv GROUP BY doc_id, bit
      |), sh AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      |  FROM votes GROUP BY doc_id
      |), banded AS (
      |  SELECT doc_id, simhash, band, substr(simhash, band * 16 + 1, 16) AS slice
      |  FROM sh, (SELECT unnest(generate_series(0, 3)) AS band)
      |), cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    a.simhash AS sa, b.simhash AS sb
      |  FROM banded a JOIN banded b
      |    ON a.band = b.band AND a.slice = b.slice AND a.doc_id < b.doc_id
      |), ham AS (
      |  SELECT doc_a, doc_b,
      |    len(list_filter(generate_series(1, 64),
      |        i -> substr(sa, CAST(i AS INT), 1) <> substr(sb, CAST(i AS INT), 1))) AS hamming
      |  FROM cand)
      |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming FROM ham
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin

  /** q40: blocked all-pairs n-gram Jaccard — exact token-set similarity for
    * every pair inside a (lang, source) block, the classic blocking-key
    * answer to quadratic dedup (cost Σ block², never corpus²). Only pairs
    * with jaccard ≥ 0.5 survive (the dedup decision threshold).
    */
  def q40JaccardBlocked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Dedup.jaccardWithinGroups(Tables.balanced(spark, dir, "documents"),
        "doc_id", "text", Seq("lang", "source"))
      .filter($"jaccard" >= 0.5)
      .withColumn("jaccard", round($"jaccard", 6))
      .orderBy($"doc_a", $"doc_b")
  }

  val q40Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, lang, source, list_distinct($toksExpr) AS toks
      |  FROM documents
      |)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(len(list_intersect(a.toks, b.toks))
      |        / (len(a.toks) + len(b.toks)
      |           - len(list_intersect(a.toks, b.toks))), 6) AS jaccard
      |FROM tok a JOIN tok b
      |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.toks, b.toks)) > 0
      |  AND len(list_intersect(a.toks, b.toks))
      |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
      |      >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  val q26Sql: String =
    s"""WITH tok AS (
      |  SELECT doc_id, unnest(list_distinct($toksExpr)) AS tok
      |  FROM documents
      |), h AS (SELECT doc_id, md5(tok) AS h FROM tok
      |), bits AS (SELECT doc_id, h, unnest(generate_series(0, 63)) AS bit FROM h
      |), bv AS (
      |  SELECT doc_id, bit,
      |    CAST(floor((strpos('0123456789abcdef', substr(h, CAST(bit // 4 AS INT) + 1, 1)) - 1)
      |         / pow(2, 3 - (bit % 4))) AS INT) % 2 AS bitval
      |  FROM bits
      |), votes AS (
      |  SELECT doc_id, bit, SUM(CASE WHEN bitval = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM bv GROUP BY doc_id, bit)
      |SELECT doc_id,
      |  string_agg(CASE WHEN vote > 0 THEN '1' ELSE '0' END, '' ORDER BY bit) AS simhash
      |FROM votes GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
