package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.TextAnalysis.tokens

/** Deduplication operators for a 100 TB training-data pipeline.
  *
  * Design: every variant reduces to (1) a partition-local, codegen'd
  * signature computation (no shuffle), then (2) ONE shuffle on a compact
  * bucket key, then (3) bucket-local candidate joins + exact
  * verification. Nothing ever does an all-pairs comparison; the only
  * quadratic work is within a bucket, and buckets are bounded (salt /
  * AQE skew handling apply if a degenerate key appears).
  */
object Dedup {

  // ---------------------------------------------------------------------
  // Exact dedup: hash-groupBy on a normalized fingerprint.
  // Spark shape: groupBy(md5) — map-side partial agg, single shuffle.
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_copies"), min(col(idCol)).as("keep_id"))

  // ---------------------------------------------------------------------
  // MinHash + LSH banding.

  /** Word w-shingles (default w=3) as a distinct array — native codegen'd
    * [[graft.functions.WordShingles]] (the HOF transform/slice/concat_ws
    * chain was interpreted and cost d06 ~3 s at sf0.1). */
  def shingles(text: Column, w: Int = 3): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(graft.functions.WordShingles(
      ColumnBridge.expression(tokens(text)), w))
  }

  /** LSH band keys: split the signature into `bands` rows-per-band groups;
    * key = xxhash64 of the band's slice + band index. Docs sharing ANY
    * band key become candidate pairs. */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(concat_ws(",",
        transform(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string"))), b))

  /** Near-dup pairs with Jaccard estimated from MinHash signatures.
    *
    * Scale shape (the whole point of MinHash — the raw shingle sets are
    * NEVER shuffled):
    *   1. one pass computes the compact (id, sig) table — numPerm longs
    *      per doc — materialized once (localCheckpoint) so the text scan
    *      never reruns per join branch;
    *   2. the band self-join carries only (band, id): shuffle payload is
    *      ~`bands` longs per doc regardless of document length
    *      (experiments that carried signatures or band-key arrays into
    *      the join to verify bucket-locally LOST at 10x scale — the wide
    *      shuffle+sort outweighed the saved candidate passes);
    *   3. candidate pairs are de-duplicated BEFORE any similarity work,
    *      then Jaccard is estimated by the codegen'd
    *      [[graft.functions.SigAgree]] — agreeing positions / numPerm
    *      (unbiased; stderr ≈ sqrt(J(1-J)/numPerm)) — a tight primitive
    *      loop where the interpreted `zip_with` formulation allocated a
    *      boxed 64-wide array per candidate (millions at 10x scale).
    *
    * Cost tracks OUTPUT: near-dup families of size f emit f(f-1)/2
    * qualifying pairs by contract, so a corpus whose near-dup mass grows
    * quadratically produces quadratic output; the sf1 rehearsal measured
    * 11,800x the sf0.1 output (3.34M vs 283 pairs — repetitive docs
    * whose shingle sets are permutation-invariant alias across ScaleUp
    * replicas) against 13x the wall time, i.e. runtime is strongly
    * SUB-linear in output (see BENCH_NOTES).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  def minhashLsh(
      docs: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 64, bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    val rowsPerBand = numPerm / bands
    // fused tokens→shingles→signature expression: no shingle arrays are
    // ever materialized (graft.functions.MinHashTokensSig). The signature
    // table feeds three plan branches; localCheckpoint (not persist)
    // materializes it once AND lets the blocks free with the RDD when the
    // result is dropped — a CacheManager persist would pin them for the
    // session (a leak for long-lived engines calling this repeatedly).
    val sigs = docs
      .select(col(idCol).as("id"),
        graft.functions.MinHash.minhashTokensSig(tokens(col(textCol)), 3, numPerm)
          .as("sig"))
      .localCheckpoint()
    val banded = sigs.select(col("id"),
      explode(bandKeys(col("sig"), bands, rowsPerBand)).as("band"))
    val cand = banded.as("a").join(banded.as("b"), Seq("band"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), "id_a")
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (graft.functions.MinHash.sigAgree(col("sig_a"), col("sig_b"))
          .cast("double") / numPerm.toDouble).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---------------------------------------------------------------------
  // SimHash: 64-bit signature; near-dups = small Hamming distance.

  /** 64-bit SimHash over whitespace tokens: bit j is the sign of
    * Σ_tokens (±1 by bit j of xxhash64(token)).
    *
    * Implemented as the native codegen'd [[graft.functions.SimHash64]]
    * expression — interpreted HOF lambdas box every intermediate, and the
    * 64-counter inner loop measured ~6 s of pure lambda overhead at sf0.1
    * (a 16-lane SWAR HOF packing was 1.7× slower still); the JVM loop is
    * negligible and keeps the pipeline in one WholeStageCodegen span. */
  def simhash(text: Column): Column =
    graft.functions.SimHash.simhash64(tokens(text))

  /** Near-dup pairs by SimHash: block on 4 × 16-bit chunks (pigeonhole —
    * any pair within Hamming distance 3 shares at least one chunk), then
    * verify bit_count(xor) <= maxHamming within blocks.
    *
    * Degenerate-input posture (the corpus-scale hazard: thousands of
    * empty/boilerplate docs all hash to the same signature, making one
    * chunk bucket quadratic):
    *
    *  1. identical signatures COLLAPSE before blocking — a group of k
    *     equal-signature docs emits k-1 star pairs to its min-id
    *     representative (hamming 0) instead of a k²/2 clique, and only the
    *     representative enters the chunk index. Lossless for dedup: the
    *     star keeps the whole group connected, and a clique adds no
    *     information a keep-one pass would use.
    *  2. residual skew among DISTINCT signatures is bounded by a posting-
    *     list cap (d04's truncated-inverted-index pattern): within an
    *     oversized (chunk, value) bucket only the first `chunkCap` members
    *     (by id) are indexed; every member still probes the index, so work
    *     is O(chunkCap·n) per bucket, each member stays connected to the
    *     bucket prefix, and only prefix-disjoint pairs that share no OTHER
    *     chunk lose recall. Buckets at or under the cap are exhaustive —
    *     results there are identical to the uncapped operator.
    */
  def simhashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, chunkCap: Int = 4096): DataFrame =
    hamming64Pairs(
      docs.select(col(idCol).as("id"), simhash(col(textCol)).as("sig")),
      maxHamming, chunkCap)

  /** The signature-agnostic core of [[simhashPairs]]: near-dup pairs of
    * any 64-bit signature column (SimHash, perceptual image aHash, …) by
    * the 4 × 16-bit chunk pigeonhole blocking, equal-signature star
    * collapse, and capped posting lists — the full degenerate-input
    * posture documented above. Input must be an (id, sig) frame. */
  def hamming64Pairs(
      sigs: DataFrame, maxHamming: Int = 3,
      chunkCap: Int = 4096): DataFrame = {
    // 4 chunks guarantee exhaustive recall only for Hamming <= 3
    // (pigeonhole: 4 errors can touch all 4 chunks); a larger radius
    // would need maxHamming+1 chunks, so refuse rather than silently
    // return partial results
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hamming64Pairs: 4-chunk blocking is exhaustive only for " +
        s"maxHamming <= 3, got $maxHamming")
    import org.apache.spark.sql.expressions.Window
    // 1. equal signatures → star pairs around the min-id representative
    val reps = sigs.groupBy(col("sig")).agg(min(col("id")).as("rep"))
    val starPairs = sigs.join(reps, "sig")
      .filter(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"),
        lit(0L).as("hamming"))
    // 2. chunk-blocked candidate join over one row per DISTINCT signature
    val chunked = reps
      .select(col("rep").as("id"), col("sig"))
      .withColumn("chunk", explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("c"),
          call_function("shiftright", col("sig"), c * 16).bitwiseAND(0xFFFFL).as("v")))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("chunk")).orderBy(col("id"))))
    val a = chunked.filter(col("rk") <= chunkCap)
      .select(col("chunk"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = chunked.select(col("chunk"), col("id").as("id_b"), col("sig").as("sig_b"))
    val repPairs = a.join(b, Seq("chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // distinct sigs → hamming >= 1
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
    starPairs.unionByName(repPairs)
  }

  // ---------------------------------------------------------------------
  // N-gram Jaccard via inverted index (exact, not probabilistic).

  /** Exact token-set Jaccard pairs via a PREFIX-FILTERED inverted-index
    * join (SSJoin / AllPairs, Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07) — the SQL-expressible exact counterpart of minhashLsh.
    *
    * Tokens are globally ordered rarest-first (ascending document
    * frequency); each doc indexes only its first n - ceil(t*n) + 1
    * tokens. Lemma: any pair with Jaccard >= t shares its rarest common
    * token inside BOTH prefixes, so no qualifying pair is missed — the
    * result is byte-identical to the naive all-token join. Hot tokens
    * ("the") sort last and never enter the index, so a degenerate
    * posting list cannot make the self-join quadratic. Candidates are
    * verified exactly against the full token arrays.
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("id"),
      array_distinct(tokens(col(textCol))).as("tk"))
    val inv = toks.select(col("id"), size(col("tk")).as("n"),
      explode(col("tk")).as("t"))
    val dfreq = inv.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // prefix = the n - ceil(t*n) + 1 globally-rarest tokens of each doc
    // (epsilon guards fp error in t*n from shrinking the prefix)
    val prefix = inv.join(dfreq, "t")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .filter(col("rk") <= col("n") - ceil(col("n") * threshold - 1e-9) + 1)
      .select(col("id"), col("t"))
    val cand = prefix.as("x").join(prefix.as("y"), Seq("t"))
      .filter(col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(toks.select(col("id").as("id_a"), col("tk").as("tk_a")), "id_a")
      .join(toks.select(col("id").as("id_b"), col("tk").as("tk_b")), "id_b")
      .withColumn("shared",
        size(array_intersect(col("tk_a"), col("tk_b"))).cast("double"))
      .withColumn("jaccard", col("shared") /
        (size(col("tk_a")) + size(col("tk_b")) - col("shared")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** CONTAINMENT near-dup (asymmetric Jaccard): |A ∩ B| / |A| over
    * distinct word n-gram sets, reported for BOTH directions of every
    * candidate pair. Detects what symmetric Jaccard structurally
    * misses — a short doc embedded in a long one (truncations, quote
    * inclusions, boilerplate wrappers): 100 grams fully inside a
    * 1000-gram doc is containment 1.0 but Jaccard only 0.1, below any
    * useful symmetric threshold (Broder's original resemblance/
    * containment split).
    *
    * Scale shape — the LOSSLESS SSJoin prefix filter (Chaudhuri et al.
    * ICDE'06, directed-containment form): B can contain a t-fraction of
    * A's grams only if it shares one of A's (|A| − ⌈t·|A|⌉ + 1) RAREST
    * grams (global (df, gram) order — miss the whole prefix and the
    * overlap fits inside the suffix, which is < t·|A|). So candidates
    * come from prefix postings × full postings, and a boilerplate gram
    * — huge df — lands in nobody's prefix: the hot gram never reaches
    * the candidate join at all, no cap needed (the d04 posture, made
    * directional). Verification then ships gram ARRAYS only for
    * candidate pairs and computes the exact intersection. Nothing is
    * approximate: candidates ⊇ all qualifying pairs, verify is exact,
    * so the brute-force oracle matches bit-for-bit.
    *
    * @return (id_a, id_b, containment_ppm): grams of id_a found in id_b
    */
  def containmentPairs(
      docs: DataFrame, idCol: String, textCol: String, n: Int = 8,
      thresholdPpm: Long = 800000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), n)).as("g"))
    val sizes = gs.select(col("id"), size(col("g")).cast("long").as("sz"))
    val inv = gs.select(col("id"), explode(col("g")).as("t"))
    val dfreq = inv.groupBy(col("t")).agg(count(lit(1)).as("df"))
    // prefix length |A| - ceil(t|A|) + 1, all-integer ceil
    val prefix = inv.join(dfreq, "t")
      .join(sizes, "id")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("df"), col("t"))))
      .filter(col("rk") <=
        col("sz") - expr(s"(sz * ${thresholdPpm}L + 999999L) div 1000000L")
          + 1)
      .select(col("id"), col("t"))
    val cand = prefix.as("x").join(inv.as("y"), Seq("t"))
      .filter(col("x.id") =!= col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .distinct()
    cand
      .join(gs.select(col("id").as("id_a"), col("g").as("g_a")), "id_a")
      .join(gs.select(col("id").as("id_b"), col("g").as("g_b")), "id_b")
      .withColumn("shared",
        size(array_intersect(col("g_a"), col("g_b"))).cast("long"))
      .withColumn("containment_ppm",
        expr("(shared * 1000000L) div size(g_a)"))
      .filter(col("containment_ppm") >= thresholdPpm)
      .select(col("id_a"), col("id_b"), col("containment_ppm"))
  }

  /** Edit-distance verification of near-dup candidates — the VERIFY
    * stage real fuzzy-dedup pipelines end with: token-set overlap
    * (or MinHash) proposes candidate pairs cheaply, and only those
    * pairs pay the O(|a|·|b|) Levenshtein DP. Similarity is reported
    * as integer parts-per-million of the longer text,
    * (mx − lev)·10⁶ div mx, so the oracle replay is exact (both
    * engines implement the classic Wagner–Fischer distance).
    *
    * Scale shape: the quadratic-in-length DP runs ONLY on candidate
    * pairs (candidates ≪ corpus² by the lossless rarest-token prefix
    * filter of [[ngramJaccardPairs]]); document text shuffles only to
    * pair up those candidates — the same "signatures first, text only
    * for survivors" posture as d04/d08.
    *
    * @return (id_a, id_b, lev, sim_ppm), pairs with sim_ppm ≥ minSimPpm
    */
  def fuzzyVerifyPairs(
      docs: DataFrame, idCol: String, textCol: String,
      candThreshold: Double, minSimPpm: Long): DataFrame = {
    val cands = ngramJaccardPairs(docs, idCol, textCol, candThreshold)
      .select(col("id_a"), col("id_b"))
    val txt = docs.select(col(idCol), col(textCol))
    cands
      .join(txt.select(col(idCol).as("id_a"), col(textCol).as("txt_a")), "id_a")
      .join(txt.select(col(idCol).as("id_b"), col(textCol).as("txt_b")), "id_b")
      .withColumn("lev", levenshtein(col("txt_a"), col("txt_b")).cast("long"))
      .withColumn("mx",
        greatest(length(col("txt_a")), length(col("txt_b"))).cast("long"))
      .withColumn("sim_ppm",
        when(col("mx") === 0, lit(1000000L))
          .otherwise(expr("(mx - lev) * 1000000L div mx")))
      .filter(col("sim_ppm") >= minSimPpm)
      .select(col("id_a"), col("id_b"), col("lev"), col("sim_ppm"))
  }

  // ---------------------------------------------------------------------
  // Embedding cosine near-dup: LSH-bucketed, exact cosine verify.

  /** Cosine near-dup pairs over an embedding column.
    *
    * Degenerate-bucket posture: correlated real-world embeddings can
    * concentrate one LSH bucket far past its expected n/2^lshBits share,
    * and unlike simhash there is no exact-signature collapse to hide
    * behind (near-identical vectors still differ). The posting-list cap
    * bounds the bucket-local join: only the first `bucketCap` members of a
    * bucket (by id) are indexed, every member probes the index, so an
    * n-member bucket costs O(bucketCap·n) cosines instead of n²/2. Every
    * member still pairs with the bucket prefix, so keep-one dedup
    * connectivity survives the cap; recall is lost only for pairs of two
    * beyond-prefix members. Buckets at or under the cap — every bucket, in
    * a healthy corpus — are exhaustive and match the uncapped operator. */
  def embeddingNearDups(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, lshBits: Int = 12,
      bucketCap: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withBucket = embs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("bucket", VectorFunctions.lshBucket(col("v"), lshBits))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("bucket")).orderBy(col("id"))))
    val a = withBucket.filter(col("rk") <= bucketCap)
      .select(col("bucket"), col("id").as("id_a"), col("v").as("v_a"))
    val b = withBucket.select(col("bucket"), col("id").as("id_b"), col("v").as("v_b"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        VectorFunctions.cosine(col("v_a"), col("v_b")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cos")).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup — the
    * embedding-space analog of d05 that scales past LSH recall limits by
    * comparing only WITHIN coarse clusters. A vector is a duplicate iff
    * some lower-id vector in its cluster has cosine >= threshold; the
    * winning witness is the smallest such id (SemDeDup's "keep one per
    * semantic group" rule, with lowest-id in place of
    * closest-to-centroid so the keeper election is engine-exact).
    *
    * Fully deterministic end to end — the s03/s05 machinery reused:
    * centroids are the int8-quantized embeddings of the `nlist` smallest
    * ids (seeded, no Lloyd iterations), assignment is exact integer
    * squared-L2 argmin, and pair scoring is cosine over the QUANTIZED
    * vectors (integer-valued doubles, sums < 2^53 — bit-reproducible),
    * so a SQL oracle replays the entire operator.
    *
    * Scale shape: one shuffle on cidx; `clusterCap` bounds the join's
    * left side per cluster exactly like d05's bucketCap (pairwise work
    * is cap×members per cluster, never corpus²). At 100 TB the
    * assignment is ingest-time (cidx the bucketBy key) and only (cidx,
    * id, int8 vec) rows — not raw floats — enter the shuffle.
    *
    * @return (vec_id, kept_by, cos) one row per DROPPED vector
    */
  def semanticDedup(
      embs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16,
      clusterCap: Int = 4096): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val centroids: Array[Array[Int]] = embs.orderBy(col(idCol)).limit(nlist)
      .select(VectorFunctions.int8Quantize(col(vecCol)).as("q"))
      .collect().map(_.getSeq[Int](0).toArray)
    val assigned = embs.select(col(idCol).as("id"),
        VectorFunctions.int8Quantize(col(vecCol)).as("qi"))
      .withColumn("cidx", VectorFunctions.int8NearestList(col("qi"), centroids))
      .select(col("id"), col("cidx"), col("qi").cast("array<double>").as("q"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("cidx")).orderBy(col("id"))))
    val keepers = assigned.filter(col("rk") <= clusterCap)
      .select(col("cidx"), col("id").as("keeper_id"), col("q").as("q_a"))
    val members = assigned
      .select(col("cidx"), col("id").as("dup_id"), col("q").as("q_b"))
    keepers.join(members, Seq("cidx"))
      .filter(col("keeper_id") < col("dup_id"))
      .select(col("dup_id"), col("keeper_id"),
        VectorFunctions.cosine(col("q_a"), col("q_b")).as("cos"))
      .filter(col("cos") >= threshold)
      // smallest qualifying witness; struct min is lexicographic, so the
      // carried cos is that witness's score
      .groupBy(col("dup_id"))
      .agg(min(struct(col("keeper_id"), col("cos"))).as("w"))
      .select(col("dup_id").as(idCol), col("w.keeper_id").as("kept_by"),
        col("w.cos").as("cos"))
  }

  // ---------------------------------------------------------------------
  // Near-dup cluster resolution: pairs → connected components → keep-one.

  /** Connected components over an undirected near-dup pair graph: every
    * node's label converges to the MINIMUM doc id reachable from it;
    * `cluster` is that label and `keep` marks the cluster representative —
    * the keeper a keep-one dedup pass retains, which is the step a real
    * pipeline needs AFTER pair generation (pairs alone don't say which
    * copies to drop when dups chain: a~b, b~c must drop b AND c).
    *
    * Shape: min-label propagation — per round every node takes the min of
    * its own label and its neighbors' labels; a driver loop re-joins until
    * a fixpoint. Rounds = graph diameter, and near-dup graphs are stars +
    * short chains (diameter ≲ 5 in practice), so the loop is a handful of
    * bounded jobs; lineage is cut with localCheckpoint each round so the
    * plan does not grow with iterations. `maxIter` is a loud backstop — an
    * unconverged result NEVER returns silently. At 100 TB the edge set is
    * the dup-pair list (orders of magnitude smaller than the corpus) and
    * each round shuffles only (id, label) long pairs — the corpus text
    * never enters the loop.
    */
  def dupClusters(
      docs: DataFrame, pairs: DataFrame, idCol: String,
      maxIter: Int = 25): DataFrame = {
    // loop-invariant edge list: checkpointed (one materialization of the
    // pair plan), then clustered by the per-round join key and CACHED so
    // every round's neighbor join sees the edges already partitioned and
    // shuffles only the (id, label) pairs — the p14 staging posture; a
    // bare checkpoint leaf would forget the partitioning and re-exchange
    // the edges each round in the at-scale regime where labels do not
    // broadcast. Unpersisted before return: the eager per-round label
    // checkpoints have already run every job that reads the cache.
    val edges = pairs
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionByName(pairs.select(col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .localCheckpoint()
      .repartition(col("src"))
      .persist()
    var labels = docs.select(col(idCol).cast("long").as("id"))
      .withColumn("label", col("id")).localCheckpoint()
    // labels only ever decrease, so a strictly decreasing Σ label IS the
    // fixpoint probe — one scan of the (already checkpointed) labels per
    // round, no self-join; decimal(38) so a 100 TB id space cannot wrap
    def labelSum(): java.math.BigDecimal = Option(labels
      .agg(sum(col("label").cast("decimal(38,0)"))).head()
      .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO) // empty corpus
    var prevSum = labelSum()
    var round = 0
    var converged = false
    while (!converged) {
      if (round >= maxIter)
        throw new IllegalStateException(
          s"dupClusters: no fixpoint after $maxIter rounds")
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nmin"))
      labels = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        .localCheckpoint()
      val s = labelSum()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      round += 1
    }
    edges.unpersist()
    labels.select(col("id").as(idCol), col("label").as("cluster"),
      (col("id") === col("label")).as("keep"))
  }

  // ---------------------------------------------------------------------
  // Exact-substring dedup (the Lee et al. 2022 "Deduplicating Training
  // Data Makes Language Models Better" family): find the cross-document
  // duplicated SPANS — boilerplate, licenses, quoted text — that exact
  // (d01) and near-dup (d02–d05) whole-document passes cannot see.

  /** Maximal duplicated token spans per document.
    *
    * The suffix-array formulation is single-machine; the distributed
    * counterpart is positional k-gram frequency: position i's gram hash
    * identifies the exact substring tokens[i..i+k-1], so a substring of
    * length >= k duplicated ANYWHERE in the corpus (another doc or the
    * same doc) shows up as a run of positions whose gram occurs > 1 time
    * globally. Merging consecutive duplicated positions (the classic
    * islands grouping: pos - row_number is constant on a run) yields the
    * maximal spans, reported when they reach `minTokens`.
    *
    * Scale shape — NO pairwise join anywhere (unlike d02–d05 there is no
    * candidate-pair stage to cap):
    *   1. gram hashes are one fused codegen'd pass (GramHashes), shipped
    *      as (id, pos, gh) — three longs, never the text;
    *   2. global frequency is a map-side-combinable groupBy(gh) count;
    *      the dup-gram join back is a plain equi-join on gh, so a hot
    *      boilerplate gram (10^8 occurrences at corpus scale) is an AQE
    *      skew-join split, not a single-reducer window partition;
    *   3. the islands window shuffles only the DUPLICATED positions by
    *      doc — bounded by the duplication rate, not the corpus.
    *
    * @return (id, span_start, span_tokens): 0-based token offset and
    *         length; span_tokens = run_length - 1 + k (for a doc shorter
    *         than k tokens the single whole-doc gram reports k).
    */
  def substringDupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, minTokens: Int = 15): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("id"),
      posexplode(graft.functions.Winnow.gramHashes(tokens(col(textCol)), k))
        .as(Seq("pos", "gh")))
    // The PartitioningBarrier on the aggregate's join key is load-bearing
    // for the skew posture: left bare, the final HashAggregate feeds the
    // SMJ directly (its own exchange already clusters by gh), and AQE's
    // OptimizeSkewedJoin only fires when BOTH join inputs are bare
    // ENSURE_REQUIREMENTS shuffle stages — so a hot boilerplate gram
    // would be stuck in ONE reducer with no split. The barrier severs the
    // partitioning lineage so EnsureRequirements inserts a LAZY exchange
    // on the aggregate side (plan-asserted in PlanAuditSpec under a
    // planted hot gram), unlike round 9's eager localCheckpoint which
    // bought the same plan shape at the price of running the text scan +
    // gram explode twice (measured 2-9x on d08/d09). In the broadcast
    // regime (small dup set) the barrier is a no-op projection and the
    // fused one-pass streaming plan survives.
    val dupGrams = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .select(graft.functions.Barrier.partitioning(col("gh")).as("gh"))
    val dupPos = grams.join(dupGrams, "gh")
    dupPos
      .withColumn("island", col("pos") - row_number().over(
        Window.partitionBy(col("id")).orderBy(col("pos"))))
      .groupBy(col("id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select(col("id").as(idCol), col("span_start"), col("span_tokens"))
  }

  /** Keep-one substring dedup APPLY: the cleaned corpus d08's span report
    * points at — every duplicated substring keeps its globally-first
    * occurrence and loses the rest (the Lee et al. 2022 removal step).
    *
    * Deterministic relational rule (identical in the SQL oracle):
    *   - a gram occurrence (doc, pos) is KEPT iff its gram is globally
    *     unique or (doc, pos) is the lexicographically first occurrence;
    *   - token t survives iff at least one kept gram covers it
    *     (pos <= t <= min(pos+k-1, n-1)).
    * Boundary grams that straddle a duplicated span and unique context
    * are unique, so each removed span keeps up to k-1 boundary tokens on
    * each side — the same slack the suffix-array formulation exhibits.
    *
    * Scale shape: keeper election is a map-side-combinable groupBy(gh)
    * with min(struct(id,pos)) + an equi-join back (AQE splits hot
    * boilerplate grams); the only stage that ships text is the final
    * per-doc reconstruction — unavoidable, because the OUTPUT is the
    * cleaned text itself, and it shuffles each token once (the same cost
    * as writing the cleaned corpus).
    *
    * @return (id, n_tokens, n_kept, clean_text); docs losing every token
    *         come back with n_kept = 0 and clean_text = ''.
    */
  def substringDedupApply(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val sized = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .withColumn("n", size(col("tk")))
    val grams = sized.select(col("id"), col("n"),
      posexplode(graft.functions.Winnow.gramHashes(col("tk"), k))
        .as(Seq("pos", "gh")))
    // keeper election only for DUPLICATED grams: a unique gram needs no
    // join at all (it is kept by definition), so the joined side is
    // bounded by the duplication rate, not the gram dictionary. The
    // PartitioningBarrier mirrors d08's: it severs the aggregate's
    // partitioning lineage so EnsureRequirements inserts lazy exchanges
    // on both inputs of the left join and a hot boilerplate gram is an
    // AQE skew split, not a single reducer (plan-asserted) — without the
    // eager double-explode a localCheckpoint costs.
    val dupKeep = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("id"), col("pos"))).as("keep"))
      .filter(col("cnt") > 1)
      .select(graft.functions.Barrier.partitioning(col("gh")).as("gh"), col("keep"))
    val kept = grams.join(dupKeep, Seq("gh"), "left")
      .filter(col("keep").isNull ||
        (col("id") === col("keep.id") && col("pos") === col("keep.pos")))
    val coverage = kept.select(col("id"),
        explode(sequence(col("pos"),
          least(col("pos") + k - 1, col("n") - 1))).as("t"))
      .distinct()
    val tokPos = sized.select(col("id"),
      posexplode(col("tk")).as(Seq("t", "tok")))
    val preserved = tokPos.join(coverage, Seq("id", "t"), "left_semi")
    val rebuilt = preserved.groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("t").as("t"), col("tok").as("tok")))),
          s => s.getField("tok"))).as("clean_text"))
    sized.select(col("id"), col("n"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n").cast("long").as("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  // ---------------------------------------------------------------------
  // Benchmark decontamination: which training documents contain any word
  // n-gram that also appears in an evaluation set (the standard 13-gram
  // overlap check, run here with a caller-chosen n).

  /** Train-side doc ids sharing ≥1 word n-gram with `evalDocs`.
    *
    * Scale shape: the eval side is benchmarks — tiny next to a 100 TB
    * train corpus — so its distinct n-gram set BROADCASTS; the train scan
    * explodes n-grams map-side and semi-joins against the broadcast with
    * NO shuffle of train data (the only exchange is the final distinct
    * over matching doc ids, bounded by the contamination count). */
  def contaminatedDocs(
      train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingles(col(textCol), n)).as("g")).distinct()
    train
      .select(col(idCol), explode(shingles(col(textCol), n)).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Decontamination at the scale where the eval gram set no longer
    * BROADCASTS (d06's assumption): a driver-built Bloom filter over the
    * eval grams pre-filters the train grams inside WholeStageCodegen
    * ([[graft.functions.BloomMightContain]]), so the exact verify
    * semi-join — a plain shuffle join here, by design — ships only the
    * candidate survivors (fpp of the corpus) instead of every train
    * gram. Bloom filters have NO false negatives and the verify join
    * removes the false positives, so the result is bit-identical to
    * [[contaminatedDocs]] — same oracle. */
  def contaminatedDocsBloom(
      train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13,
      fpp: Double = 0.01): DataFrame = {
    // one computation feeds both the filter build and the verify join
    val evalGrams = evalDocs
      .select(explode(shingles(col(textCol), n)).as("g")).distinct()
      .localCheckpoint()
    val expected = math.max(evalGrams.count(), 1L)
    val bf = evalGrams.stat.bloomFilter("g", expected, fpp)
    train
      .select(col(idCol), explode(shingles(col(textCol), n)).as("g"))
      .filter(graft.functions.BloomExpr.mightContain(col("g"), bf))
      .join(evalGrams, Seq("g"), "left_semi")
      .select(col(idCol)).distinct()
  }

  /** Per-document contamination SCORE — the graded variant of
    * [[contaminatedDocs]]: instead of flagging any document sharing one
    * n-gram with the eval set, report how much of each training
    * document is contaminated — distinct-gram count, hit count, and the
    * hit fraction in integer parts-per-million (the GPT-3-style overlap
    * statistic pipelines threshold AFTER inspection, rather than
    * hard-dropping on first contact).
    *
    * Scale shape: the eval gram set broadcasts (tiny next to a 100 TB
    * train corpus); each train document's distinct grams come off a
    * partition-local codegen'd expression ([[shingles]] dedups in-row),
    * so train text never shuffles — the two exchanges carry only
    * (id, long) pairs: map-side-combined hit counts, and the
    * totals-to-hits join.
    *
    * @return (idCol, n_grams, n_hit, frac_ppm), one row per train doc
    */
  def contaminationScore(
      train: DataFrame, evalDocs: DataFrame,
      idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val evalGrams = evalDocs
      .select(explode(shingles(col(textCol), n)).as("g")).distinct()
    val sized = train.select(col(idCol).as("id"),
      shingles(col(textCol), n).as("gr"))
    val matched = sized.select(col("id"), explode(col("gr")).as("g"))
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hit"))
    sized.select(col("id"), size(col("gr")).cast("long").as("n_grams"))
      .join(matched, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr("coalesce(n_hit, 0L) * 1000000L div n_grams").as("frac_ppm"))
  }

  /** Incremental ingest dedup — the shape a CONTINUOUSLY-GROWING corpus
    * actually runs: yesterday's corpus is already deduplicated and
    * materialized as a fingerprint index; today's batch must admit only
    * documents that are new against the index AND first-of-their-kind
    * within the batch (min id wins, d01's keeper rule).
    *
    * Scale shape: texts never shuffle — the batch reduces to (fp, min id)
    * with a map-side-combined groupBy, the index side ships fingerprints
    * only, and the anti-join is a plain hash join of two fingerprint
    * sets. The index table is the persisted output of prior runs, so
    * each day's cost is O(batch + index lookup), never O(corpus history
    * rescan). */
  def incrementalAdmit(
      index: DataFrame, batch: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val idxFp = index.select(md5(col(textCol)).as("fp")).distinct()
    batch.select(col(idCol), md5(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
      .join(idxFp, Seq("fp"), "left_anti")
      .select(col(idCol))
  }

  // ---------------------------------------------------------------------
  // Line-level (repeated-segment) dedup: the C4 / MassiveText rule that
  // removes every repeated LINE across the whole corpus, keeping only
  // its globally-first occurrence, then re-emits each document with its
  // surviving lines in order. The fixtures carry no newlines, so the
  // "line" is a deterministic fixed segmentation: consecutive
  // non-overlapping `span`-word windows (the same stand-in C4 uses for
  // its three-sentence spans when sentence bounds are unreliable).

  /** Repeated-segment removal with first-occurrence-wins semantics.
    *
    * Rule (mirrored exactly in the SQL oracle): segment s at (doc, pos)
    * survives iff (doc, pos) is the lexicographically-first occurrence
    * of s's text in the corpus — this removes cross-document boilerplate
    * AND within-document repetition in one pass.
    *
    * Scale shape: segment text NEVER shuffles. Segmentation is a
    * partition-local codegen'd transform/slice (no UDF); the keeper
    * election is ONE groupBy(fingerprint) whose shuffle carries
    * (md5, doc, pos) — the md5 stands in for the segment (equal text
    * <=> equal key); the per-doc kept-position sets shuffle (doc,
    * int-array) only; the rebuild then joins those sets back to the
    * doc rows by id and re-slices the token array partition-locally —
    * the document text moves exactly once, which is the cost of
    * writing the cleaned corpus itself. Degenerate hot segments
    * (boilerplate) are single GROUP BY keys, map-side combined — no
    * posting-list blowup.
    *
    * @return (id, n_segments, n_kept, text_dedup); docs losing every
    *         segment come back with n_kept = 0 and text_dedup = ''.
    */
  def lineDedup(
      docs: DataFrame, idCol: String, textCol: String,
      span: Int = 10): DataFrame = {
    val sized = docs.select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .withColumn("nseg",
        ceil(size(col("tk")).cast("double") / span).cast("long"))
    val segs = sized.select(col("id"),
      posexplode(expr(
        s"transform(sequence(0, cast(nseg as int) - 1), " +
        s"i -> concat_ws(' ', slice(tk, i * $span + 1, $span)))"))
        .as(Seq("pos", "seg")))
    val firsts = segs
      .select(col("id"), col("pos"), md5(col("seg")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(struct(col("id"), col("pos"))).as("keep"))
      .select(col("keep.id").as("id"), col("keep.pos").as("pos"))
    val keptPos = firsts.groupBy(col("id"))
      .agg(sort_array(collect_list(col("pos"))).as("kp"))
    sized.join(keptPos, Seq("id"), "left")
      .select(col("id").as(idCol), col("nseg").as("n_segments"),
        coalesce(size(col("kp")).cast("long"), lit(0L)).as("n_kept"),
        coalesce(concat_ws(" ", expr(
          s"transform(kp, i -> concat_ws(' ', slice(tk, i * $span + 1, $span)))")),
          lit("")).as("text_dedup"))
  }

  // ---------------------------------------------------------------------
  /** Test fixture: union `docs` with perturbed copies (last `dropWords`
    * words removed, id offset) so near-dup operators have planted positives
    * with known ids — deterministic, derived only from the input. */
  def withPlantedDups(
      docs: DataFrame, idCol: String, textCol: String,
      nPlant: Int, idOffset: Long, dropWords: Int = 5): DataFrame = {
    val planted = docs.filter(col(idCol) < nPlant)
      .withColumn(idCol, col(idCol) + idOffset)
      .withColumn(textCol, {
        val toks = tokens(col(textCol))
        concat_ws(" ", slice(toks, lit(1), greatest(size(toks) - dropWords, lit(1))))
      })
    docs.unionByName(planted)
  }
}
