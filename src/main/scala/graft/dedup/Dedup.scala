package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.nlp.text.Text

/** Deduplication operators for large-scale training-data pipelines: exact
  * (content-hash groupBy), MinHash+LSH (shingle → minhash → band → bucket
  * join), SimHash, and exact n-gram Jaccard verification.
  *
  * Scale design: every strategy is a bounded number of shuffles keyed on
  * hashes/bands — no all-pairs comparison ever materializes. MinHash bands
  * turn near-dup search from O(n²) into a hash-join on band signatures whose
  * fan-in AQE can skew-split; the exact-Jaccard verifier runs only on the
  * candidate pairs the bands emit.
  *
  * Determinism: all hash families derive from md5 of explicit strings
  * (seed|shingle), so signatures are reproducible across engines and runs —
  * no JVM-hash or RNG dependence.
  *
  * Materialization policy — the one policy of the engine; every other
  * materialization site points here:
  *  - an operator that returns a lazy frame and re-reads a frame (both
  *    sides of a self-join, a prune plus joins, an iterated round)
  *    checkpoints that frame itself with `localCheckpoint(eager = false)`,
  *    eager only where it needs the rows at once (connected-components
  *    rounds); callers never checkpoint what they hand it (here and
  *    `graft.util.Ids`);
  *  - a fit persists its input for the call and releases it in `finally`
  *    (`graft.wizard.Cluster.withPoints`);
  *  - the WordWizard chain keeps its two caches until the caller releases
  *    them (`graft.wizard.WordWizard`).
  * `localCheckpoint`, not `cache()`: its blocks are dropped by the
  * ContextCleaner once the result is unreferenced (no leak in long-lived
  * sessions), the lineage cut keeps iterative plans bounded, and a lost
  * block fails the query instead of recomputing it (a recompute of a
  * range-partitioned frame could land rows differently, see `Ids`). The
  * trade-off at cluster scale: local-checkpoint blocks live only on
  * executors, so losing an executor mid-query (dynamic-allocation
  * decommission, spot kill, OOM kill) FAILS the query. Deployments on a
  * real cluster should disable executor churn for the job (no dynamic
  * allocation, or `spark.decommission.enabled` with block migration) or
  * swap in a reliable `checkpoint()` directory. local[*] has a single
  * process and no executor loss.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the smallest id as canonical.
    * Returns (keep_id, n_dups) — callers semi-join on keep_id to filter.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures: for each of `numHashes` seeded hash functions,
    * h_i(doc) = min over shingles of word i%4 of md5("⌊i/4⌋|" + shingle) —
    * an 8-hex-char (32-bit) slice of the digest. Lexicographic min of the
    * fixed-width hex word equals numeric min of its value, so this is a
    * valid min-wise family, portable across engines.
    * Output grain: (id, seed, minhash).
    *
    * Plan shape: ONE shuffle at (id) grain with `numHashes` partial-agg min
    * columns computed map-side, then a cheap 8-row-per-doc unpivot — not an
    * (id, seed)-grain shuffle of shingles×seeds rows, which moves numHashes×
    * the data for the same answer.
    */
  def minHashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, numHashes: Int = 8): DataFrame = {
    val wide = minHashWide(df, idCol, textCol, shingleSize, numHashes)
    val kv = (0 until numHashes).flatMap(i =>
      Seq(lit(i), element_at(col("sig"), i + 1)))
    wide.select(col(idCol), explode(map(kv: _*)).as(Seq("seed", "minhash")))
  }

  /** MinHash signature as ONE array column per doc — the engine-internal
    * form: (id, sig: array<string>[numHashes]). Banding, candidate joins
    * and Jaccard estimation all derive from it in-row, so nothing at
    * (doc, seed) grain ever shuffles. [[minHashSignatures]] unpivots this
    * for the row-grain API/oracle surface.
    */
  def minHashWide(df: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int = 3, numHashes: Int = 8): DataFrame = {
    // materialize tokens as a column FIRST: inlining Text.tokens into the
    // ngrams lambda would re-run the regex tokenizer once per shingle
    // (slice(toks,...) evaluates its input per transform element)
    val sh = df.select(col(idCol), Text.tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(Text.ngrams(col("toks"), shingleSize)).as("sh"))
    // One digest yields four independent 32-bit words, so numHashes hash
    // functions cost ⌈numHashes/4⌉ md5 calls per shingle, not numHashes.
    // The words aggregate as LONGs: min(string) has no mutable agg buffer
    // and forces sort-based aggregation, while the long form runs as a
    // map-side partial-min HashAggregate (the r3 q24 fix: 8 md5/shingle +
    // SortAggregate → 2 md5/shingle + HashAggregate). Fixed-width hex
    // re-encoding after the agg restores the engine-portable string form —
    // lexicographic min over 8-hex words == numeric min over their values,
    // so the DuckDB oracle computes the identical signature from substrings.
    val nDigests = (numHashes + 3) / 4
    val digests = (0 until nDigests).map(j =>
      md5(concat(lit(s"$j|"), col("sh"))).as(s"d$j"))
    val words = (0 until numHashes).map(i =>
      conv(substring(col(s"d${i / 4}"), (i % 4) * 8 + 1, 8), 16, 10)
        .cast("long").as(s"h$i"))
    val proj = sh.select(col(idCol) +: digests: _*)
      .select(col(idCol) +: words: _*)
    val aggs = (0 until numHashes).map(i => min(col(s"h$i")).as(s"h$i"))
    proj.groupBy(col(idCol)).agg(aggs.head, aggs.drop(1): _*)
      .select(col(idCol), array((0 until numHashes).map(i =>
        lower(lpad(hex(col(s"h$i")), 8, "0"))): _*).as("sig"))
  }

  /** LSH banding over wide minhash signatures: seeds are grouped into bands
    * of `bandRows`; docs sharing any full band signature become candidate
    * pairs, each carrying its minhash-estimated Jaccard (fraction of
    * agreeing hashes — exact rational k/numHashes, engine-portable),
    * computed IN-ROW from the two signature arrays at the moment the pair
    * is formed. One shuffle on (band, bsig) and one pair-grain distinct —
    * the (doc, seed)-grain signature join + re-aggregation of the textbook
    * formulation never happens. Output: (doc_a, doc_b, est_jaccard).
    */
  def lshCandidatePairs(wide: DataFrame, idCol: String,
                        bandRows: Int = 2): DataFrame = {
    require(bandRows >= 1, s"bandRows=$bandRows must be >= 1")
    // both band sides read the signatures (materialization policy: object docs)
    val sig = wide.localCheckpoint(false)
    val nBands = (size(col("sig")) / bandRows).cast("int") // sig length is uniform
    // nBands=0 (sig shorter than one band) must emit NO bands — the naked
    // sequence(0, -1) is DESCENDING [0,-1] and would fabricate a band=-1
    // row with garbage slice offsets (ADVICE r03)
    val banded = sig.select(col(idCol), col("sig"),
        explode(when(nBands >= 1, sequence(lit(0), nBands - 1))
          .otherwise(array().cast("array<int>"))).as("band"))
      .withColumn("bsig",
        array_join(slice(col("sig"), col("band") * bandRows + 1, lit(bandRows)), ""))
    val a = banded.select(col(idCol).as("doc_a"), col("sig").as("sig_a"),
      col("band"), col("bsig"))
    val b = banded.select(col(idCol).as("doc_b"), col("sig").as("sig_b"),
      col("band"), col("bsig"))
    // emit-once: a pair agreeing in several bands would duplicate; instead
    // of a pair-grain DISTINCT shuffle (pre-distinct volume can dwarf the
    // result at scale), keep the pair only where this is the FIRST
    // agreeing band — an in-row check against the carried signatures.
    // NB sequence(0, band-1) at band=0 is DESCENDING [0,-1], not empty —
    // the band-0 case must short-circuit before the range is built
    val firstBand = col("band") === 0 ||
      forall(sequence(lit(0), col("band") - 1),
        bb => exists(sequence(bb * bandRows, (bb + 1) * bandRows - 1),
          s => element_at(col("sig_a"), s + 1) =!= element_at(col("sig_b"), s + 1)))
    a.join(b, Seq("band", "bsig"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(firstBand)
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), _ === _),
          x => x)) / size(col("sig_a")).cast("double")).as("est_jaccard"))
  }

  /** SimHash: 64-bit signature from the doc's distinct tokens. Bit b of
    * md5(token)'s first 16 hex digits votes ±1; the sign of the per-bit sum
    * sets the signature bit. Emitted as a 64-char '0'/'1' string (bit 0
    * first) — portable, and hamming distance is a cheap codegen'd loop.
    *
    * Computed by the scalar SimHash64 expression — a per-row token loop.
    * The equivalent relational plan (explode tokens ×64 bit rows → two
    * shuffled aggregations) moves 64× the data for the same answer; the
    * DuckDB oracle keeps that formulation as the cross-engine check.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.VecExprs.simhash64(
        array_distinct(Text.tokens(col(textCol)))).as("simhash"))

  /** Verification stage: exact n-gram-set Jaccard for the candidate pairs
    * the bands emitted (ngramSize=1 → unigram sets; 2/3 → shingle sets,
    * stricter about word order). Pairs with NO shared grams never join —
    * the bands found them by hash agreement, so a zero-overlap candidate is
    * a hash collision, not a near-dup.
    *
    * Plan shape: the gram SET is materialized once per doc as an array
    * column (bounded per-doc payload), and each pair picks up both sides
    * with two hash joins; intersection/union sizes are computed in-row via
    * `array_intersect` — no gram-grain explode, no per-pair
    * re-aggregation. Cost is O(pairs × grams-per-doc) — the whole point of
    * LSH is that `pairs` is tiny relative to n², so this is cheap at any
    * corpus size.
    * Output: every column of `pairs` plus `jaccard` (r21 — the
    * pass-through lets callers keep per-pair evidence without re-joining
    * the verify output onto the pair frame); zero-overlap pairs drop.
    */
  def verifyPairs(pairs: DataFrame, df: DataFrame, idCol: String,
                  textCol: String, ngramSize: Int = 1): DataFrame = {
    // Prune BEFORE tokenizing (r21): only docs that appear in a candidate
    // pair can survive the doc_a/doc_b joins below, yet the gram-set
    // projection used to run over the ENTIRE corpus — and because the two
    // join sides consume it under different aliases, the tokenizer ran
    // corpus-wide TWICE per verify. A semi-join on the pair participants
    // (bounded by the candidate set, which at scale is orders of magnitude
    // smaller than the corpus) makes both passes proportional to the pairs
    // being verified. Row-for-row identical output: the inner joins dropped
    // non-participants anyway.
    // the prune and both joins read the pairs (materialization policy: object docs)
    val candPairs = pairs.localCheckpoint(false)
    val ids = candPairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as(idCol))
      .distinct()
    val cand = df.join(ids, Seq(idCol), "leftsemi")
    // tokens materialized as a column before n-gramming — inlining the
    // tokenizer into the ngrams lambda re-runs the regex once per shingle
    val sets =
      (if (ngramSize <= 1)
        cand.select(col(idCol).as("vp_id"),
          array_distinct(Text.tokens(col(textCol))).as("gset"))
      else
        cand.withColumn("toks", Text.tokens(col(textCol)))
          .select(col(idCol).as("vp_id"),
            array_distinct(Text.ngrams(col("toks"), ngramSize)).as("gset")))
    // Output = the pairs' own columns + jaccard (r21): carrying the input
    // columns through means callers that want estimate+exact evidence
    // per pair (q25/q38) need NO re-join of the verify output back onto the
    // pair frame — that join was a pair-grain shuffle whose left side was
    // by construction a superset of the right.
    candPairs
      .join(sets.select(col("vp_id").as("doc_a"), col("gset").as("ga")), "doc_a")
      .join(sets.select(col("vp_id").as("doc_b"), col("gset").as("gb")), "doc_b")
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .filter(col("inter") > 0)
      .select(candPairs.columns.map(col) :+
        (col("inter") /
          (size(col("ga")) + size(col("gb")) - col("inter"))).as("jaccard"): _*)
  }

  /** Connected components over a near-dup pair graph — pairs → dedup
    * GROUPS (one canonical keeper per component).
    * Output: (doc_id, component) where component = min id in the group.
    *
    * Two physical strategies, picked by edge count:
    *
    * 1. `edges ≤ localEdgeThreshold` — a single-task union-find
    *    (path-halving + union-by-min) over the deduped edge list. The pair
    *    graph of a near-dup stage is orders of magnitude smaller than the
    *    corpus (it holds only colliding candidates, not documents), so even
    *    a 100 TB corpus typically yields well under the default 20 M edges
    *    ≈ 320 MB of longs — one executor core chews that in seconds, with
    *    zero shuffle rounds. This is the same "collect-to-one-partition
    *    when small" escape hatch GraphFrames' CC applies (public
    *    `org.graphframes` broadcastThreshold design), minus the driver:
    *    the solve stays in an executor task.
    *
    * 2. larger graphs — iterative min-label propagation + pointer doubling
    *    (comp ← comp(comp), the large-star shortcut), O(log diameter)
    *    rounds, each a set of partition-parallel joins; frames are
    *    localCheckpoint'ed so the logical plan doesn't grow per round, and
    *    Σcomp (observed during materialization — no extra job) detects the
    *    fixpoint. Throws if maxIter rounds don't converge — silently wrong
    *    components are worse than a loud failure (ADVICE r01).
    *
    * An empty pair graph short-circuits to an empty (doc_id, component)
    * frame (ADVICE r02: the Observation-based sum is null on zero rows).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          localEdgeThreshold: Long = 20000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // the count and either strategy read the edges (materialization policy: object docs)
    val dedupedPairs = pairs
      .select(col("doc_a").cast("long").as("a"), col("doc_b").cast("long").as("b"))
      .distinct()
      .localCheckpoint(false)
    val m = dedupedPairs.count()
    if (m == 0) {
      return pairs.select(col("doc_a").cast("long").as("doc_id"),
        col("doc_b").cast("long").as("component")).limit(0)
    }
    if (m <= localEdgeThreshold) {
      return dedupedPairs
        .select(col("a").as("_1"), col("b").as("_2")).as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = scala.collection.mutable.LongMap.empty[Long]
          def find(x0: Long): Long = {
            var x = x0
            var p = parent(x)
            while (p != x) { // path halving
              val gp = parent(p)
              parent(x) = gp
              x = gp
              p = parent(x)
            }
            x
          }
          it.foreach { case (a, b) =>
            if (!parent.contains(a)) parent(a) = a
            if (!parent.contains(b)) parent(b) = b
            val ra = find(a)
            val rb = find(b)
            // union-by-min: the smaller id becomes the root, so every
            // root is the min id of its component — exactly the
            // min-reachable-id labeling the oracle's transitive closure
            // computes.
            if (ra < rb) parent(rb) = ra
            else if (rb < ra) parent(ra) = rb
          }
          parent.keys.toArray.iterator.map(k => (k, find(k)))
        }
        .toDF("doc_id", "component")
    }
    val edges = dedupedPairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(dedupedPairs.select(col("b").as("src"), col("a").as("dst")))
      .distinct().localCheckpoint()
    import org.apache.spark.sql.Observation
    // init folds the FIRST propagation round into label creation:
    // comp₀ = min(id, min neighbor). For the common near-dup shape (LSH
    // buckets ≈ cliques/stars) this already IS the fixpoint, so the loop
    // runs once only to confirm.
    val sumExpr = sum(col("comp").cast("decimal(38,0)")).as("s")
    val initObs = Observation("cc_init")
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("comp"))
      .observe(initObs, sumExpr)
      .localCheckpoint()
    // fixpoint detection without a separate job: comp values only ever
    // decrease, so Σcomp strictly decreases exactly when any label changed
    // (decimal sum — immune to long overflow at any id range). The sum is
    // observed DURING the checkpoint materialization — each round is a
    // single Spark job.
    def observedSum(obs: Observation): java.math.BigDecimal =
      obs.get("s") match {
        case null                    => java.math.BigDecimal.ZERO // no rows
        case d: java.math.BigDecimal => d
        case d: BigDecimal           => d.bigDecimal
        case other => new java.math.BigDecimal(other.toString)
      }
    var prevSum = observedSum(initObs)
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("comp").as("dst_comp")), "dst")
        .groupBy(col("src")).agg(min(col("dst_comp")).as("nbr_comp"))
      val prop = labels
        .join(nbrMin.select(col("src").as("id"), col("nbr_comp")), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
      // pointer doubling: comp values are always node ids (invariant: min
      // over a set of ids containing the node itself), so comp(comp) is
      // defined and ≤ comp — label trees flatten exponentially and the
      // round count is O(log diameter), not O(diameter).
      val obs = Observation(s"cc_$i")
      val next = prop
        .join(prop.select(col("id").as("comp"), col("comp").as("comp2")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("comp2"), col("comp")).as("comp"))
        .observe(obs, sumExpr)
        .localCheckpoint()
      val nextSum = observedSum(obs)
      changed = nextSum.compareTo(prevSum) != 0
      prevSum = nextSum
      labels = next
      i += 1
    }
    if (changed)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          "— component labels would be wrong")
    labels.select(col("id").as("doc_id"), col("comp").as("component"))
  }

  /** SimHash near-dup pairs via chunk banding (pigeonhole: two 64-bit
    * signatures within hamming distance `chunks−1` must agree on at least
    * one of `chunks` equal slices) — candidates from a hash join on
    * (band, slice), verified with the codegen'd hamming expression. Like
    * MinHash-LSH this never goes n²: only slice-collision pairs are
    * compared. Output: (doc_a, doc_b, hamming) with hamming ≤ maxHamming.
    */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3, chunks: Int = 4): DataFrame = {
    val chunkLen = 64 / chunks
    // both join sides read the signatures (materialization policy: object docs)
    val sh = simHash(df, idCol, textCol).localCheckpoint(false)
    val banded = sh.select(col(idCol), col("simhash"),
        explode(sequence(lit(0), lit(chunks - 1))).as("band"))
      .withColumn("slice",
        expr(s"substring(simhash, band * $chunkLen + 1, $chunkLen)"))
    val a = banded.select(col(idCol).as("doc_a"), col("simhash").as("sha"),
      col("band"), col("slice"))
    val b = banded.select(col(idCol).as("doc_b"), col("simhash").as("shb"),
      col("band"), col("slice"))
    // emit-once (same trick as lshCandidatePairs): keep the pair only in
    // the FIRST band whose slices agree — in-row substring compares
    // replace a pair-grain DISTINCT shuffle
    a.join(b, Seq("band", "slice"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("band") === 0 || // sequence(0,-1) would be [0,-1], not empty
        forall(sequence(lit(0), col("band") - 1), bb =>
          substring_band(col("sha"), bb, chunkLen) =!=
            substring_band(col("shb"), bb, chunkLen)))
      .select(col("doc_a"), col("doc_b"),
        graft.functions.VecExprs.hamming(col("sha"), col("shb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** substring of a banded signature: chars [band·len, (band+1)·len). */
  private def substring_band(sig: Column, band: Column, len: Int): Column =
    sig.substr(band * len + 1, lit(len))

  /** Exact token-set Jaccard for all pairs within a blocking key — the
    * blocked all-pairs flavor of n-gram dedup (the blocking key bounds the
    * quadratic term to Σ block², the standard way to make all-pairs
    * tractable at corpus scale; pick keys so blocks stay small).
    * Same set-intersect shape as [[verifyPairs]]: one token-set array per
    * doc, a self-equi-join on the block key, in-row `array_intersect` —
    * nothing at token grain ever shuffles.
    * Output: (doc_a, doc_b, jaccard) for same-group pairs sharing ≥1 token.
    */
  def jaccardWithinGroups(df: DataFrame, idCol: String, textCol: String,
                          groupCols: Seq[String]): DataFrame = {
    val sets = df.select((col(idCol) +: groupCols.map(col)) :+
      array_distinct(Text.tokens(col(textCol))).as("gset"): _*)
    val a = sets.select(groupCols.map(col) :+
      col(idCol).as("doc_a") :+ col("gset").as("ga"): _*)
    val b = sets.select(groupCols.map(col) :+
      col(idCol).as("doc_b") :+ col("gset").as("gb"): _*)
    a.join(b, groupCols)
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("inter", size(array_intersect(col("ga"), col("gb"))))
      .filter(col("inter") > 0)
      .select(col("doc_a"), col("doc_b"),
        (col("inter") /
          (size(col("ga")) + size(col("gb")) - col("inter"))).as("jaccard"))
  }
}
