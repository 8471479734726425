package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline over a
  * (doc_id, text) documents table — exact, MinHash+LSH, SimHash, n-gram
  * Jaccard, and embedding-cosine near-dup.
  *
  * Scale notes (the whole point of these ops at 100 TB):
  *   - exact dedup is one hash aggregation on the fingerprint — shuffle on
  *     md5, map-side partial agg for free;
  *   - MinHash signatures are a single explode + two-level hash agg (no
  *     per-pair work); LSH banding turns the O(n²) pair space into
  *     per-bucket candidate sets (shuffle keyed by (band, bucket-hash));
  *   - candidate verification (exact Jaccard / cosine) touches only pairs
  *     that share a bucket — the canonical shuffle-bounded near-dup plan;
  *   - everything is expressed on DataFrames so AQE can coalesce the
  *     (usually tiny) bucket-join output.
  */
object Dedup {

  // ---- exact -----------------------------------------------------------------

  /** Exact dedup: canonical representative = min(doc_id) per normalized
    * fingerprint. Returns (fingerprint, keep_id, n_dups).
    */
  def exactGroups(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.groupBy(TextOps.fingerprintCol(col(textCol)).as("fingerprint"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))

  /** Docs surviving exact dedup (first-wins by doc_id). */
  def exactDedup(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, textCol).select(col("keep_id").as("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  // ---- MinHash + LSH -----------------------------------------------------------

  /** Word w-shingles of a text (the unit hashed by MinHash), as a pure
    * Catalyst expression.
    *
    * Perf note (r07): higher-order functions are interpreted (no
    * whole-stage codegen, no common-subexpression elimination), so a
    * `split(text)` referenced inside the transform lambda would re-split
    * the WHOLE text once per emitted shingle — O(n²) per document
    * (measured: ~8 ms/doc at 54 tokens, the dominant cost of every
    * inverted-index query). The token array is therefore bound ONCE per
    * row through a single-element-array lambda (`transform(array(split),
    * ts -> ...)`), and w=1 short-circuits to the token array itself
    * (concat_ws of a single non-null token is the token). Semantics are
    * bit-identical to the original per-index slice construction.
    */
  def shingleCol(text: Column, w: Int = 3): Column =
    if (w == 1) {
      val toks = split(text, " ")
      when(size(toks) >= 1, toks).otherwise(array(text))
    } else {
      element_at(
        transform(array(split(text, " ")), ts =>
          when(size(ts) >= w,
            transform(sequence(lit(0), size(ts) - w),
              i => concat_ws(" ", slice(ts, i + 1, lit(w)))))
            .otherwise(array(text))),
        1)
    }

  /** MinHash signature: for each of k seeds, min(md5(shingle || '_' || seed))
    * — min over lexicographic md5 hex strings, reproducible in any engine
    * with md5 (the classic permutation-free MinHash construction).
    * One explode + one groupBy; signature columns mh_0..mh_{k−1}.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 8, shingleW: Int = 3): DataFrame = {
    // array_distinct before the explode: min(md5(...)) over the shingle
    // MULTISET equals min over the SET, and duplicate shingles would pay
    // k md5s each for nothing (w=1 token duplication is ~2.3× on the
    // bench corpus)
    val exploded = Par.widen(docs)
      .select(col("doc_id"),
        explode(array_distinct(shingleCol(col("text"), shingleW))).as("sh"))
    val aggs = (0 until k).map(i =>
      min(md5(concat(col("sh"), lit(s"_$i")))).as(s"mh_$i"))
    exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH banding: k signature columns split into `bands` bands of k/bands
    * rows each; band key = md5 of the concatenated band slice. Docs sharing
    * any (band, key) become candidate pairs (a < b to dedup the pair space).
    * Returns (band, a, b).
    */
  def lshCandidatePairs(sigs: DataFrame, k: Int = 8, bands: Int = 4,
      maxBucket: Int = 10000,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rows).map(r => col(s"mh_${b * rows + r}")): _*)).as("key"))
    }
    val keyed = sigs
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
    Guard.cappedSelfJoin(keyed, Seq("band", "key"), Seq("doc_id"), maxBucket,
        "lshCandidatePairs", obs, sigs.sparkSession.sessionState.conf.numShufflePartitions)
      .select("band", "a", "b").distinct()
  }

  /** Exact word-shingle Jaccard for candidate pairs (the verify stage after
    * LSH): returns (a, b, jaccard). Joins the shingle sets only for
    * candidate pairs — no all-pairs blowup.
    */
  def verifyJaccard(docs: DataFrame, pairs: DataFrame, shingleW: Int = 3): DataFrame = {
    val sets = Par.widen(docs).select(col("doc_id"),
      array_distinct(shingleCol(col("text"), shingleW)).as("sh"))
    pairs.select(col("a"), col("b")).distinct()
      .join(sets.withColumnRenamed("doc_id", "a").withColumnRenamed("sh", "sha"), Seq("a"))
      .join(sets.withColumnRenamed("doc_id", "b").withColumnRenamed("sh", "shb"), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(array_union(col("sha"), col("shb"))))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / col("uni")).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: candidates ∧ jaccard ≥ threshold. */
  def minhashDupPairs(docs: DataFrame, k: Int = 8, bands: Int = 4,
      threshold: Double = 0.7,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    val pairs = lshCandidatePairs(minhashSignatures(docs, k), k, bands, obs = obs)
    verifyJaccard(docs, pairs).filter(col("jaccard") >= threshold)
  }

  /** All-pairs n-gram Jaccard above a threshold via an inverted-index join
    * on shared shingles (no LSH approximation): explode shingles, self-join
    * on shingle, count shared per pair, derive jaccard from set sizes.
    * Exact, and shuffle-bounded by shingle frequency (a stopword-shingle
    * cap `maxDf` drops degenerate hubs — the standard inverted-index
    * guard).
    */
  def ngramJaccardPairs(docs: DataFrame, shingleW: Int = 3,
      threshold: Double = 0.5, maxDf: Int = 1000,
      joinParallelism: Int = 0,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    val spark = docs.sparkSession
    val p = if (joinParallelism > 0) joinParallelism
      else spark.sessionState.conf.numShufflePartitions
    val sets = Par.widen(docs).select(col("doc_id"),
      array_distinct(shingleCol(col("text"), shingleW)).as("sh"))
      .withColumn("setSize", size(col("sh")))
    val inv = sets.select(col("doc_id"), col("setSize"), explode(col("sh")).as("sh"))
    // inverted-index guard: `maxDf` drops degenerate hub shingles; the
    // exact-oracle contract query runs capless. Length filter
    // (PPJoin-style, lossless): jaccard >= t forces
    // t·max(|a|,|b|) <= min(|a|,|b|); pairs failing it never reach the
    // aggregation
    val (sa, sb) = (col("setSize_a"), col("setSize_b"))
    Guard.cappedSelfJoin(inv, Seq("sh"), Seq("doc_id", "setSize"), maxDf,
        "ngramJaccardPairs", obs, p)
      .filter(greatest(sa, sb) * threshold <= least(sa, sb))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"), min(sa).as("sa"), min(sb).as("sb"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sa") + col("sb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
  }

  // ---- SimHash -------------------------------------------------------------------

  /** SimHash over word tokens in `limbs` 64-bit words (little-endian:
    * limb 0 holds bits 0-63), unweighted: near-dups have small Hamming
    * distance. Limb i votes on its own FNV-1a stream (FNV-64 prime,
    * offset basis XOR'ed with i times the 64-bit golden-ratio constant),
    * so limb 0 is `UrlCanon.hash64`'s stream. "Independent" here needs
    * only per-token bit-pattern decorrelation between the streams (each
    * signature bit is a majority vote over its own stream's bit), which a
    * distinct basis provides — the classic multi-hash construction, no
    * second hash family required. Pure Scala hashing (stable across
    * JVMs), one pass per doc.
    */
  private[ops] def simhashLimbs(tokens: Seq[String], limbs: Int): Array[Long] = {
    val acc = new Array[Int](64 * limbs)
    tokens.foreach { t =>
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var l = 0
      while (l < limbs) {
        var h = 0xcbf29ce484222325L ^ (l * 0x9e3779b97f4a7c15L)
        var i = 0
        while (i < bytes.length) { h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
        i = 0
        while (i < 64) { acc(64 * l + i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
        l += 1
      }
    }
    Array.tabulate(limbs) { l =>
      var out = 0L
      var i = 0
      while (i < 64) { if (acc(64 * l + i) > 0) out |= (1L << i); i += 1 }
      out
    }
  }

  /** 64-bit SimHash: the one-limb `simhashLimbs`. */
  def simhash(tokens: Seq[String]): Long = simhashLimbs(tokens, 1)(0)
  private val simhashU = udf((text: String) =>
    if (text == null) 0L else simhash(text.split(" ").toSeq))
  def simhashCol(text: Column): Column = simhashU(text)

  /** Engine-default signatures: the single-pass FNV UDF above — one scan,
    * no shuffle beyond the blocking stage, ~3× cheaper than the portable
    * md5 construction (which pays md5 + base-conversion per token plus 60
    * parallel sum-aggregates per doc). Use `simhashPortableSigs` only when
    * an external engine must recompute the signatures bit-for-bit.
    */
  def simhashFnvSigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashCol(col("text")).as("sig"))

  /** Engine-portable SimHash signatures: token hash = first 15 hex chars of
    * md5 (60 bits, reproducible in any engine with md5 + base conversion —
    * DuckDB: ('0x'||substring(md5(t),1,15))::BIGINT), per-bit majority vote
    * over the token multiset. Pure DataFrame plan (explode + two hash
    * aggregations), no JVM-specific hashing — this is the signature the
    * driver's DuckDB oracle can recompute bit-for-bit.
    * Returns (doc_id, sig).
    */
  def simhashPortableSigs(docs: DataFrame, bits: Int = 60): DataFrame = {
    val toks = Par.widen(docs).select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    // per-bit votes as `bits` parallel aggregates over ONE token explode —
    // a (doc, bit) explode would multiply the shuffle 60×; this keeps one
    // narrow row per token with map-side partial aggregation. (A
    // dedupe-tokens-first two-level variant was measured SLOWER here and
    // shuffles more at scale: the partial agg already reduces the shuffle
    // to docs×bits longs per map task, smaller than the distinct
    // (doc, token) stream it would pay an extra exchange for.)
    val votes = (0 until bits).map(i =>
      sum((shiftrightunsigned(col("h"), i) % 2) * 2 - 1).as(s"v_$i"))
    toks.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"v_$i") > 0, lit(1L << i)).otherwise(0L)).reduce(_ + _).as("sig"))
  }

  /** SimHash near-dup pairs with a REAL Hamming guarantee: signatures are
    * split into `maxHamming + 1` blocks, so any pair within Hamming ≤
    * maxHamming shares at least one exact block (pigeonhole — a pair with
    * all blocks differing has ≥ maxHamming+1 differing bits). Candidates
    * verified with popcount. `maxBucket` guards degenerate blocks (e.g.
    * millions of near-empty docs sharing a block value) from going
    * quadratic — buckets above the cap are dropped from candidate
    * generation (recall guard rails, like maxDf for shingles).
    *
    * The block keyspace is FIXED at 2^width per block (width = bits /
    * (maxHamming+1)) — unlike LSH planes it cannot grow with the corpus,
    * so past ~maxBucket·2^width docs the AVERAGE block bucket exceeds the
    * cap and recall collapses. Pass `corpusSize` (a known or estimated doc
    * count) to fail loudly at that ceiling instead of returning an
    * empty-ish answer (at maxHamming=3/64 bits/maxBucket=10k the ceiling
    * is ~650M docs; beyond it, shard the corpus or raise maxBucket);
    * `obs` reports the realized drop fraction of any run.
    */
  def simhashDupPairs(docs: DataFrame, maxHamming: Int = 3, bits: Int = 64,
      maxBucket: Int = 10000,
      signatures: DataFrame => DataFrame = simhashFnvSigs(_),
      corpusSize: Long = -1L,
      obs: Option[Guard.GuardObservation] = None): DataFrame =
    simhashBlockPairs(signatures(docs), Seq("sig"), bits, maxHamming, maxBucket,
      "simhashDupPairs", corpusSize, obs)

  // ---- 128-bit SimHash (scale path past the 64-bit keyspace ceiling) -------

  /** 128-bit SimHash as (hi, lo): the two-limb `simhashLimbs` — `lo`
    * EQUALS `simhash(tokens)`, `hi` votes on the second stream. Doubling the
    * signature doubles the per-block keyspace exponent: at maxHamming=3
    * the blocks go 16→32 bits wide, lifting the average-bucket recall
    * ceiling from ~maxBucket·2^16 (~650M docs at the 10k cap) to
    * ~maxBucket·2^32 (~4·10^13) — the scale-out the 64-bit geometry
    * fundamentally cannot reach (see simhashDupPairs scaladoc).
    */
  def simhash128(tokens: Seq[String]): (Long, Long) = {
    val l = simhashLimbs(tokens, 2)
    (l(1), l(0))
  }
  private val simhash128U = udf((text: String) =>
    if (text == null) (0L, 0L) else simhash128(text.split(" ").toSeq))

  /** Engine 128-bit signatures: (doc_id, sig_hi, sig_lo) — one scan, same
    * cost shape as simhashFnvSigs (two FNV streams fused in one pass).
    */
  def simhashFnv128Sigs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhash128U(col("text")).as("s"))
      .select(col("doc_id"), col("s._1").as("sig_hi"), col("s._2").as("sig_lo"))

  /** 128-bit SimHash near-dup pairs — `simhashDupPairs` over the two limbs
    * (sig_lo, sig_hi). Hamming is measured on the 128-bit signature, so the
    * pair set is not bit-identical to the 64-bit operator's (a different
    * signature is the point); the planted-dup recall contract is the same
    * and is pinned by OpsSpec. Requires maxHamming ≥ 1 (one block cannot
    * carry 128 bits in a long key).
    */
  def simhashDupPairs128(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000,
      signatures: DataFrame => DataFrame = simhashFnv128Sigs(_),
      corpusSize: Long = -1L,
      obs: Option[Guard.GuardObservation] = None): DataFrame =
    simhashBlockPairs(signatures(docs), Seq("sig_lo", "sig_hi"), 128, maxHamming,
      maxBucket, "simhashDupPairs128", corpusSize, obs)

  /** Bits [start, start+w) of the little-endian multi-limb value, as a long. */
  private[graft] def limbSlice(limbs: Seq[Column], start: Int, w: Int): Column = {
    val (l, lo) = (start / 64, start % 64)
    val low = shiftrightunsigned(limbs(l), lo)
    val v = if (lo + w <= 64) low else low.bitwiseOR(shiftleft(limbs(l + 1), 64 - lo))
    v.bitwiseAND(lit(if (w == 64) -1L else (1L << w) - 1)) // 1L<<64 wraps to 1
  }

  /** The shared SimHash blocking over `sigs` = (doc_id, limbs...):
    * `maxHamming + 1` pigeonhole blocks over the `bits` low bits of the
    * little-endian `limbs` signature columns, the capped bucket self-join
    * on (block, key), then the popcount verify summed over the limbs.
    */
  private def simhashBlockPairs(sigs: DataFrame, limbs: Seq[String], bits: Int,
      maxHamming: Int, maxBucket: Int, label: String, corpusSize: Long,
      obs: Option[Guard.GuardObservation]): DataFrame = {
    val nBlocks = maxHamming + 1
    require(nBlocks >= 1 && nBlocks <= bits && bits - (nBlocks - 1) * (bits / nBlocks) <= 64,
      s"$label: maxHamming $maxHamming needs $nBlocks blocks of 1-64 bits over $bits bits")
    val width = bits / nBlocks // first (nBlocks-1) blocks `width` bits, last takes the rest
    Guard.warnIfUndersized(label, corpusSize, math.pow(2.0, width), maxBucket)
    val limbCols = limbs.map(col)
    val blocks = (0 until nBlocks).map { q =>
      val lo = q * width
      struct(lit(q).as("q"),
        limbSlice(limbCols, lo, if (q == nBlocks - 1) bits - lo else width).as("key"))
    }
    val keyed = sigs
      .select(col("doc_id") +: limbCols :+ explode(array(blocks: _*)).as("bk"): _*)
      .select(col("doc_id") +: limbCols :+ col("bk.q").as("q") :+ col("bk.key").as("key"): _*)
    Guard.cappedSelfJoin(keyed, Seq("q", "key"), "doc_id" +: limbs, maxBucket, label, obs,
        sigs.sparkSession.sessionState.conf.numShufflePartitions)
      .select(col("a"), col("b"), limbs.map(l =>
        bit_count(col(s"${l}_a").bitwiseXOR(col(s"${l}_b")))).reduce(_ + _).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Corpus-aware SimHash near-dup (mirrors embeddingDupPairsAuto): counts
    * the corpus once and runs the cheapest signature whose block keyspace
    * holds it under the guard with `headroom` to spare — the 64-bit
    * single-stream path up to ~maxBucket·2^(64/(maxHamming+1))/headroom
    * docs, the 128-bit path beyond (whose own hard ceiling ~maxBucket·2^32
    * at maxHamming=3 is re-checked by warnIfUndersized). `assumeCorpusSize`
    * (when > 0) skips the count and sizes geometry for that many docs —
    * for pipelines that know their scale up front, and for tests that pin
    * the switchover without materializing 10^9 rows.
    */
  def simhashDupPairsAuto(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 10000, headroom: Int = 8,
      assumeCorpusSize: Long = -1L,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    val n = if (assumeCorpusSize > 0) assumeCorpusSize else docs.count()
    val w64 = 64 / (maxHamming + 1)
    val fits64 = n.toDouble / math.pow(2.0, w64) <= maxBucket.toDouble / headroom
    if (fits64)
      simhashDupPairs(docs, maxHamming, bits = 64, maxBucket = maxBucket,
        corpusSize = n, obs = obs)
    else
      simhashDupPairs128(docs, maxHamming, maxBucket = maxBucket,
        corpusSize = n, obs = obs)
  }

  // ---- embedding cosine near-dup ----------------------------------------------------

  /** Cosine similarity of two float-array columns. Accumulates in DOUBLE
    * (float products would drift ~1e-7 — enough to flip 6-decimal
    * roundings against any double-precision reference).
    *
    * r07: a tight-loop UDF instead of the previous zip_with + aggregate
    * construction — higher-order functions are interpreted (per-element
    * lambda dispatch + boxing; see shingleCol), so on a quadratic
    * pair-verify path the HOF chain was the hot spot. Summation order and
    * the dot/(sqrt·sqrt) arithmetic are IDENTICAL (index order, double
    * accumulate), so results are bit-for-bit the old expression's; length
    * mismatch yields null like zip_with's null padding did.
    */
  private val cosineU = udf { (a: Seq[Float], b: Seq[Float]) =>
    if (a == null || b == null || a.length != b.length) None
    else {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      val n = a.length
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      Some(dot / (math.sqrt(na) * math.sqrt(nb)))
    }
  }
  def cosineCol(a: Column, b: Column): Column = cosineU(a, b)

  /** Embedding near-dup pairs: random-hyperplane sign-bucket LSH (seeded,
    * deterministic planes), exact cosine verify within buckets.
    *
    * Scale knobs: `planes` must grow with the corpus (buckets ≈ 2^planes;
    * size a bucket to ~10³–10⁴ vectors — e.g. 10^10 vectors want ≥ 21
    * planes, not 8), and `maxBucket` drops degenerate buckets (all-zero or
    * boilerplate embeddings collapse onto one bucket) before the
    * within-bucket join can go quadratic. `embeddingDupPairsAuto` derives
    * `planes` from the corpus count; `corpusSize` (when known) makes a
    * hand-set geometry fail loudly instead of silently losing recall, and
    * `obs` reports the realized drop fraction.
    */
  def embeddingDupPairs(embeddings: DataFrame, dim: Int, planes: Int = 8,
      threshold: Double = 0.95, seed: Long = 42L, maxBucket: Int = 10000,
      corpusSize: Long = -1L,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    Guard.warnIfUndersized("embeddingDupPairs", corpusSize,
      math.pow(2.0, planes), maxBucket)
    val bucketed = Par.widen(embeddings).withColumn("bucket",
      Similarity.signBucketCol(col("embedding"), dim, planes, seed))
    Guard.cappedSelfJoin(bucketed, Seq("bucket"), Seq("vec_id", "embedding"), maxBucket,
        "embeddingDupPairs", obs, embeddings.sparkSession.sessionState.conf.numShufflePartitions)
      .withColumn("cosine", cosineCol(col("embedding_a"), col("embedding_b")))
      .filter(col("cosine") >= threshold)
      .select("a", "b", "cosine")
  }

  /** Corpus-aware embedding near-dup: counts the corpus once (a cheap
    * columnar count at any scale) and sizes `planes` so the expected
    * bucket stays well under `maxBucket` (Guard.autoPlanes) — the variant
    * to use when the corpus size is not known a priori.
    */
  def embeddingDupPairsAuto(embeddings: DataFrame, dim: Int,
      threshold: Double = 0.95, seed: Long = 42L, maxBucket: Int = 10000,
      targetBucket: Int = 0,
      obs: Option[Guard.GuardObservation] = None): DataFrame = {
    val n = embeddings.count()
    val target = if (targetBucket > 0) targetBucket else math.max(1, maxBucket / 8)
    val planes = Guard.autoPlanes(n, target)
    embeddingDupPairs(embeddings, dim, planes, threshold, seed, maxBucket,
      corpusSize = n, obs = obs)
  }

  // ---- dup-pair clustering (connected components) ---------------------------

  /** Large-star round (Kiveris et al., "Connected Components in MapReduce
    * and Beyond"): every node u links each STRICTLY LARGER neighbor to the
    * minimum of u's closed neighborhood. Expressed as groupBy-min + join —
    * no per-node neighbor list is ever materialized, so a hub node with
    * 10^8 dup partners costs a wide aggregation, not a driver-sized array.
    *
    * r07 shuffle economy: the symmetrized edges are repartitioned on `u`
    * ONCE; the groupBy-min and the join both consume that single exchange
    * (aggregate preserves hash(u) partitioning, so the join plans no
    * further exchange). Intermediate `distinct()`s are dropped — the
    * round-final distinct in smallStar restores set semantics, and
    * duplicate multiplicity is bounded (≤2× from symmetrize), so the edge
    * SET per round — and therefore the convergence fingerprint and the
    * final output — is unchanged. Exchanges per round: 7-8 → 3.
    */
  private def largeStar(e: DataFrame, p: Int): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(p, col("u"))
    val m = sym.groupBy("u").agg(min("v").as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    sym.where(col("v") > col("u")).join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
  }

  /** Small-star round: orient each edge toward its larger endpoint, then
    * every node links its smaller neighbors (and itself) to the minimum of
    * that set. Same single-exchange join+groupBy shape as largeStar; the
    * trailing distinct is the round's set-semantics barrier.
    */
  private def smallStar(e: DataFrame, p: Int): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .repartition(p, col("u"))
    val m = or.groupBy("u").agg(min("v").as("m")) // m <= every small neighbor <= u
    or.join(m, "u").select(col("v").as("u"), col("m").as("v"))
      .union(m.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v")).distinct()
  }

  /** Collapse verified dup PAIRS into components: one row per node that
    * appears in `pairs`, with `cluster_id` = the smallest doc id in its
    * connected component (the canonical representative a dedup pipeline
    * keeps). Alternating large-star/small-star contraction — the standard
    * O(log^2 n)-round MapReduce CC algorithm — so a 10^10-edge dup graph
    * converges in tens of rounds of pure shuffle work: per round two
    * groupBy-min aggregations and two joins, nothing collected, no
    * neighbor lists (degree skew lands in a partial-aggregated min, not a
    * collect_list). Driver state per round is one (count, hash) fingerprint
    * pair used for convergence detection; `maxIter` is a hard rail far
    * above the theoretical bound for any real corpus.
    *
    * Input: first two columns are the pair endpoints (any numeric type;
    * cast to long). Singleton documents never appear in `pairs` and so are
    * their own implicit clusters — callers wanting a total mapping
    * left-join this result to the corpus and coalesce to doc_id.
    */
  def dupClusters(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    val defaultP = spark.sessionState.conf.numShufflePartitions
    val Seq(ca, cb) = pairs.columns.take(2).toSeq
    val base = pairs.select(col(ca).cast("long").as("u"), col(cb).cast("long").as("v"))
      .where(col("u") =!= col("v"))

    def fingerprint(e: DataFrame): (Long, Long) = {
      // bit_xor is order-independent and cannot overflow (sum would, under
      // ANSI arithmetic); equal (count, xor-of-hashes) pairs identify equal
      // edge SETS up to a 2^-64 collision
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }

    // each round's edge set is localCheckpoint'ed, not persist'ed: an
    // iterative frame built on a cached parent NESTS the parent's plan
    // (InMemoryRelation.innerChildren), so plan trees — and every
    // plan-description walk — grow multiplicatively with rounds; the
    // checkpoint truncates lineage to a LogicalRDD leaf, keeping plan
    // depth O(1) across iterations (same pattern as the crawler's
    // seen-chain). LAZY checkpoint (r07): the fingerprint aggregation is
    // the single materializing pass — one job per round instead of an
    // eager-checkpoint job plus a fingerprint job. Superseded rounds'
    // blocks are reclaimed by the ContextCleaner; round count is tiny
    // (O(log^2 n)).
    var edges = base.distinct().localCheckpoint(false)
    var fp = fingerprint(edges)
    // the first checkpointed frame doubles as the node universe (same
    // endpoint set as the raw pairs) — deriving nodes from it keeps the
    // final output join's lineage at the LogicalRDD leaf instead of
    // re-running the whole upstream pair pipeline (the old persist() was
    // released before the result was ever materialized, so the node side
    // recomputed from scratch on every action)
    val nodes = edges.select("u")
      .union(edges.select(col("v").as("u"))).distinct()
    var iter = 0
    var converged = fp._1 == 0L
    while (!converged && iter < maxIter) {
      // scale-adaptive round width (guide §2): the star rounds shuffle
      // |edges| rows known exactly from the fingerprint count — size the
      // round's exchanges from it instead of paying defaultP near-empty
      // tasks per stage on a small graph (clusters shrink geometrically,
      // so late rounds are always small even when round 0 is not)
      val p = math.max(1L, math.min(defaultP.toLong, fp._1 / 500000L + 1L)).toInt
      val next = smallStar(largeStar(edges, p), p).localCheckpoint(false)
      val nfp = fingerprint(next)
      edges = next
      converged = nfp == fp // fixpoint: both rounds changed nothing
      fp = nfp
      iter += 1
    }
    require(converged, s"dupClusters did not converge in $maxIter rounds " +
      "(theoretical bound is O(log^2 n); raise maxIter only after checking the input)")
    // at the fixpoint the edge set is a star per component, rooted at the
    // component min: non-roots carry exactly (node -> root); roots carry no
    // out-edge and map to themselves
    nodes.join(edges, Seq("u"), "left")
      .select(col("u").as("doc_id"),
        coalesce(col("v"), col("u")).as("cluster_id"))
  }
}
