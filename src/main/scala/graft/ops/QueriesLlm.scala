package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** SURVEY.md §2.K: LLM-training-data pipeline operators over the
  * `documents` (doc_id, text, lang, source, n_chars) and `embeddings`
  * (vec_id, embedding FLOAT[64], label) tables.
  *
  * Scale design (the 100 TB contract):
  *  - near-dup ships the four standard detectors, every one bucketed so
  *    work is proportional to collisions, never all-pairs:
  *    word-shingle MinHash (16 hashes, 8 bands), char-5-gram MinHash
  *    (16 hashes, 4 bands of 4 rows), 64-bit SimHash banded into 4×16
  *    bits (Manku et al., WWW'07 — hamming ≤ 3 pairs are guaranteed to
  *    share a band by pigeonhole), and embedding-cosine via
  *    random-hyperplane buckets. Each bucket self-join shuffles only its
  *    candidate pairs to the exact verify (Jaccard / hamming / cosine).
  *  - every MinHash bucket stream passes a bucket-size cap (standard LSH
  *    hygiene): a band-bucket holding more than [[MaxBucket]] docs carries
  *    almost no signal (its key is shared by a constant fraction of the
  *    corpus) while contributing O(k²) candidate pairs, so it is dropped
  *    — deterministically, on both engines — before the self-join. This
  *    is what keeps candidate generation linear under adversarial or
  *    low-entropy corpora (the round-2 char-3-gram config measured one
  *    bucket holding 63% of the corpus = all-pairs in disguise).
  *  - similarity search ships two paths: brute-force cosine top-k
  *    (TakeOrderedAndProject — partition-local top-k, no full sort) and a
  *    random-hyperplane LSH bucketed variant that prunes the scan to one
  *    bucket (~1/256 of the corpus for 8 planes) before scoring.
  *  - every hash is engine-portable (md5 / deterministic ±1 hyperplanes
  *    generated from a fixed LCG), so the SAME pipeline runs in DuckDB as
  *    the oracle and results hash-match exactly. At production scale one
  *    would swap md5 for xxhash64 — the pipeline shape is unchanged.
  */
object QueriesLlm {
  type QFn = (SparkSession, String) => DataFrame

  /** r14 VERDICT item 8 — `spark.graft.llm.hashFamily = md5 | xxhash64`.
    * md5 (default) is the engine-portable family with exact oracle
    * hash-parity; xxhash64 is the production family (~10x cheaper per
    * hashed byte; see [[graft.functions.TextSketch]]). Read at plan-build
    * time per query and serialized inside the sketch expressions, so it
    * reaches every executor on a real cluster. Pipeline shape (sampling
    * mods, banding, bucket caps, signature widths) is family-independent
    * — HashFamilySpec. */
  private[ops] def xxMode(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.llm.hashFamily")
      .exists(_.equalsIgnoreCase("xxhash64"))

  // ---------------------------------------------------------- constants
  private[graft] val NumHashes = 16
  private[graft] val Bands = 8 // 2 minhash rows per band
  private val JacThreshold = 0.5
  private val ShingleWords = 5

  // char n-grams: 3-grams over lowercase text live in a ~40³ space every
  // document shares, and 2-row band keys collide constantly (measured r2:
  // 10.4M candidate pairs from 5k docs). 5-grams + 4 rows per band keep the
  // collision probability of non-dup pairs negligible.
  private val NgramLen = 5
  /** char-grams start every 2nd char (see [[ngramsDF]]) */
  private val NgramStride = 2
  /** keep only gram hashes ≡ 0 (mod k): a deterministic 1/k sketch */
  private val NgramSampleMod = 4
  private[graft] val NgramHashes = 16
  private[graft] val NgramBands = 4 // 4 minhash rows per band
  private val NgramThreshold = 0.8

  /** bucket-size cap for the MinHash band buckets (LSH hygiene, see
    * top). The env override exists ONLY so the close protocol's
    * recall-regression gate can prove it fails on an injected cap
    * regression (tools/bench_close.py, r19) — production paths never
    * set it.
    */
  private[graft] val MaxBucket =
    sys.env.get("SPARK_GRAFT_MAXBUCKET").map(_.toInt).getOrElse(100)

  /** the ngram stream's bucket cap. The 4×4 band structure gives a pair
    * only 4 collision chances (word: 8), so the truncation-survival
    * probability (cap/k)² per band dominates its recall in over-cap
    * buckets: measured at sf10 density, cap 100 left ngram pair recall
    * at 0.947 where word sat at 0.997 (SCALE.md §6.22). cap 200 takes a
    * k=250 bucket's per-band pair survival from 0.16 to 0.64 while the
    * candidate bound stays linear (entries·(cap−1)/2) — recall
    * re-measured at 0.9939 (RECALL_r18_final_sf10.jsonl).
    */
  private[graft] val NgramMaxBucket = 200

  // 64-bit SimHash (Manku's config): 2 bits per md5 hex digit — bit 3 of
  // digit d for even sig bits, bit 2 for odd — banded 4×16 bits, so any
  // pair within hamming 3 agrees on >=1 whole band (pigeonhole) and the
  // band key space (2^16 per band) keeps buckets tiny at corpus scale.
  private val SimBits = 64
  private val SimBands = 4 // 16 bits per band; hamming<=3 always shares one
  private val HamThreshold = 3

  private val CosThreshold = 0.30

  private val Dim = 64
  private val NumPlanes = 8

  /** Banded multi-table config for the embedding LSH — the 100 TB path.
    *
    * A single b-plane table admits a pair with probability p^b where
    * p = 1 - θ/π (θ the pair's angle), so one table is a knife-edge:
    * raise b and recall collapses, lower b and every bucket holds a
    * constant corpus fraction (candidates O(N²/2^b) — quadratic in
    * disguise, the r5/r6 verdict's scale-killer). T independent tables
    * band it exactly like the SimHash/MinHash paths: recall becomes
    * 1-(1-p^b)^T (tunable via T at fixed bucket granularity) while the
    * per-table bucket-size cap — the same LSH hygiene the MinHash bucket
    * stream applies — bounds candidates at O(N·cap·T) REGARDLESS of the
    * corpus's bucket skew. 8×8 holds recall 0.93 at cos 0.9 (the real
    * near-dup regime) and 0.47 at cos 0.5; the measured numbers on the
    * testdata corpus live in EmbeddingLshSpec and SCALE.md §5.
    *
    * The driver-checked queries keep the 1-table × 8-plane config (the
    * sf-scale oracle default — deterministic parity with the DuckDB twin,
    * where 500 vectors make bucket skew irrelevant); the banded config is
    * exercised by EmbeddingLshSpec.
    */
  private[ops] val EmbTables = 8
  private[ops] val EmbPlanesPerTable = 8
  private[ops] val EmbMaxBucket = 200

  /** Deterministic ±1 hyperplanes for `nTables` LSH tables × `nPlanes`
    * planes each, drawn from one fixed LCG stream (no runtime
    * randomness). Table 0's first planes coincide with [[planes]] — the
    * (1, [[NumPlanes]]) call IS the oracle-default config, shared
    * verbatim by the oracle SQL text via [[sqlBucket]].
    */
  private[ops] def embPlaneTables(nTables: Int, nPlanes: Int): Seq[Seq[Seq[Int]]] = {
    var x = 123456789L
    def next(): Long = {
      x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      x
    }
    Seq.fill(nTables)(Seq.fill(nPlanes)(Seq.fill(Dim)(if (((next() >> 16) & 1L) == 1L) 1 else -1)))
  }

  private[ops] val planes: Seq[Seq[Int]] = embPlaneTables(1, NumPlanes).head

  private val Stopwords = Seq("the", "a", "of", "and", "to", "join", "hash", "row")

  /** tf-idf's broadcast gate (r8 verdict item 4): vocabularies at or under
    * this many distinct terms broadcast (~10^7 terms ≈ 100 MB of strings —
    * comfortably under a 1 GiB executor broadcast budget); anything larger
    * shuffle-joins. Overridable for tests via the system property.
    */
  private val vocabGateCache = scala.collection.mutable.Map[(Int, String, String), Long]()

  /** One cached gate measurement per (session, corpus dir, consumer tag):
    * the probe is an eager full-tokenize job, and without the cache every
    * plan/construction of the consuming query (bench warm + timed passes,
    * EXPLAIN) re-paid it — review-found measurement skew. The tag keeps
    * consumers with different token streams (tfidf strips stopwords, the
    * unigram LM keeps them) from serving each other's estimate.
    */
  private def vocabApproxFor(s: SparkSession, d: String, tag: String,
      words: => DataFrame): Long =
    vocabGateCache.synchronized {
      vocabGateCache.getOrElseUpdate((System.identityHashCode(s), d, tag),
        words.agg(approx_count_distinct("word")).head.getLong(0))
    }

  private[graft] def TfidfBroadcastMaxTerms: Long =
    sys.props.get("graft.tfidf.broadcast.max.terms").map(_.toLong)
      .getOrElse(10000000L)

  /** modulus of the minwise universal-hash family: 2^31 - 1 (Mersenne
    * prime). h_i(x) = (a_i * x + b_i) mod P over the 32-bit md5 prefix —
    * ONE md5 per shingle instead of the r2 shape's numHashes md5s per
    * shingle (40M md5 calls at sf0.1, the dominant stage cost). All
    * arithmetic fits signed 64-bit: a,x < 2^31 -> a*x < 2^62.
    */
  private val HashP = 2147483647L

  // winnowing fingerprints: k-gram rolling hash, w-gram windows. B/M are
  // shared verbatim with the oracle SQL (coefficients B^(k-1-j) mod M
  // precomputed below so the oracle's per-gram polynomial stays in int64)
  private val WinnowK = 8
  private val WinnowW = 32
  private val WinnowB = 257L

  /** copy-detect: min shared winnow fingerprints for a reported pair */
  private val CopyMinShared = 5L

  /** marker n-grams for the language-ID scorer — all the SAME length (5)
    * so raw length-difference counts compare without division; shared
    * verbatim with the oracle SQL. Tie-break priority: en > de > es > fr.
    */
  private val LangMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq(" the ", " and ", " for "),
    "de" -> Seq(" der ", " und ", " die "),
    "es" -> Seq(" los ", " las ", " del "),
    "fr" -> Seq(" les ", " des ", " une "))

  /** stratified sample: docs kept per (lang, source) stratum */
  private val StratumN = 3

  /** boilerplate: a 5-gram present in more than this many docs is common */
  private val BoilerplateDf = 2

  /** top-k n-grams kept per language (vocab/tokenizer QA) */
  private val NgramTopK = 5

  /** segment dedup: words per non-overlapping segment — the fixture's
    * texts carry no newlines, so fixed word windows stand in for the
    * "lines" CCNet/RefinedWeb hash
    */
  private val SegW = 10
  /** a segment present in more than this many docs is corpus-duplicated */
  private val SegDupDf = 2

  /** per-source document cap (the web-pipeline domain cap) */
  private val DomainCap = 20

  /** mixture sampling: fraction of the corpus token count to keep */
  private val MixtureFrac = 0.5

  /** chunking: window width / stride in tokens (overlap = W - S) */
  private val ChunkW = 64
  private val ChunkS = 48

  /** The copy-detect pair pipeline. The df prune here is SEMANTIC, not a
    * performance approximation: a fingerprint carried by >cap documents
    * is corpus boilerplate, and counting it as copy evidence floods the
    * detector on any low-entropy corpus (measured on the sf0.1 testdata:
    * unpruned, 67k of 5k docs' pairs "share ≥5 fingerprints" — noise
    * pairs sharing only corpus-common substrings; pruned, 95 pairs, all
    * genuine near-dup clones). MOSS applies the same high-df fingerprint
    * drop (Schleimer et al. §4) for the same reason. CopyDetectSpec
    * proves the planted-copy guarantee directly.
    */
  private[ops] def copyDetectPairs(s: SparkSession, d: String, cap: Int): DataFrame =
    copyDetectPairsFromDocs(
      Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt")), cap)

  /** docs = (doc_id, nt normalized text) — spec-injectable corpus */
  private[ops] def copyDetectPairsFromDocs(docs: DataFrame, cap: Int): DataFrame = {
    val fps = graft.functions.TextSketch.winnowFingerprintsCol(
      col("nt"), WinnowK, WinnowW, WinnowB, HashP)
    val docFps = docs
      .filter(length(col("nt")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"), explode(fps).as("fp"))
    cappedIdLists(docFps, Seq("fp"), "doc_id", cap)
      .select(pairsExplode(col("ds")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= CopyMinShared)
  }
  private val WinnowCoefs: Seq[Long] = {
    var c = 1L
    (0 until WinnowK).map { _ => val r = c; c = (c * WinnowB) % HashP; r }.reverse
  }

  /** fixed-LCG (a_i, b_i) coefficient pairs, shared verbatim with the
    * oracle SQL text — no runtime randomness
    */
  private[graft] val hashCoeffs: Seq[(Long, Long)] = {
    var x = 987654321L
    def next(): Long = {
      x = (x * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue
      x
    }
    Seq.fill(16)(((next() % (HashP - 1)) + 1, next() % HashP))
  }

  // ------------------------------------------------------- shared exprs
  /** whitespace-normalized lowercase text — the dedup key normalization */
  private def normText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** element-wise double dot product, sequential left fold (same fold the
    * oracle's list_sum/list_transform performs — bit-identical results).
    * Native since r8 ([[graft.functions.EmbSketch.arrayDot]]) — the
    * interpreted `aggregate(zip_with(...))` fold it replaced evaluates
    * per ELEMENT through the interpreted-expression path, which dominated
    * every per-candidate cosine verify; [[dotReference]] keeps the chain
    * as the bit-exactness twin (EmbSketchSpec).
    */
  private def dot(a: Column, b: Column): Column =
    graft.functions.EmbSketch.arrayDotCol(a, b)

  /** the functions-built twin of [[dot]] — spec-only */
  private[ops] def dotReference(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  private def sqlDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1, ${Dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  /** oracle twin of one LSH table's bucket key: sign bits of the given
    * planes' dot products (the planes are deterministic literals, so the
    * SQL is mechanical)
    */
  private def sqlBucketFor(ps: Seq[Seq[Int]], emb: String): String =
    ps.map { p =>
      val hp = p.mkString("list_value(", ",", ")")
      s"(CASE WHEN ${sqlDot(emb, hp)} >= 0 THEN '1' ELSE '0' END)"
    }.mkString("concat(", ", ", ")")

  /** oracle twin of the single-table LSH bucket: 8 sign bits of the
    * [[planes]] dot products */
  private def sqlBucket(emb: String): String = sqlBucketFor(planes, emb)

  /** per-table LSH keys, one `"t:signbits"` string per table — a single
    * projection computes every table's key, so the banded variant costs
    * one corpus scan regardless of T. Since r8 the sign bits are a native
    * one-pass expression ([[graft.functions.EmbSketch]]): the interpreted
    * per-plane `aggregate(zip_with(...))` folds it replaced cost 2.5 s of
    * the banded row at sf0.1; [[bucketKeysExprReference]] keeps that
    * chain as the bit-exactness twin (EmbSketchSpec).
    */
  private[ops] def bucketKeysExpr(emb: Column, tabs: Seq[Seq[Seq[Int]]]): Column =
    graft.functions.EmbSketch.planeBucketsCol(emb, tabs)

  /** the functions-built twin of [[bucketKeysExpr]] — spec-only */
  private[ops] def bucketKeysExprReference(emb: Column, tabs: Seq[Seq[Seq[Int]]]): Column =
    array(tabs.zipWithIndex.map { case (ps, t) =>
      concat(lit(s"$t:") +: ps.map(p =>
        when(dotReference(emb, typedLit(p)) >= 0, lit("1")).otherwise(lit("0"))): _*)
    }: _*)

  /** i<j pair-unnest of a SORTED id list column: one `struct(a, b)` per
    * unordered pair, a < b by the sort ([[cappedIdLists]] sorts, and
    * [[graft.functions.BoundedCollectLongs]] sorts at eval). ONE
    * definition — four call sites kept this 3-line expression in sync by
    * hand before (review-found); the 1-based slice origin (i + 2: skip
    * self and everything before) lives here only.
    */
  private def pairsExplode(list: Column): Column =
    explode(flatten(transform(list, (x, i) =>
      transform(slice(list, i + 2, size(list)),
        y => struct(x.as("a"), y.as("b"))))))

  /** Group `rows` by `keys` into sorted `idCol` lists with NO aggregation
    * buffer ever exceeding `cap + 1`. A collect-then-filter shape bounds
    * the candidate PAIRS but not the buffer: a degenerate key (r2
    * measured one bucket holding 63% of the corpus, SCALE.md §5)
    * materializes its entire posting list in ONE aggregation buffer
    * before the size filter drops it — at 10^9 docs a multi-GB
    * single-group buffer → executor OOM. The bound lives INSIDE the
    * aggregate ([[graft.functions.BoundedCollectLongs]]): a buffer that
    * reaches cap + 1 stops accumulating, which the size filter below
    * turns into the identical drop — so the plan keeps the original
    * one-shuffle shape (a pre-count + anti-join variant was measured
    * +0.2-0.36 s per dedup query at sf0.1), the surviving list set is
    * bit-identical to collect-then-filter, and the oracle twins keep
    * their windowed-count formulation.
    */
  private[ops] def cappedIdLists(rows: DataFrame, keys: Seq[String],
      idCol: String, cap: Int): DataFrame =
    rows.groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedCollect
        .boundedCollectLongsCol(col(idCol).cast(LongType), cap).as("ds"))
      .filter(size(col("ds")).between(2, cap))

  /** [[cappedIdLists]] that TRUNCATES an over-cap bucket instead of
    * dropping it (r18; VERDICT r17 task 2's "cap/band fix"). The sf10
    * recall audit (SCALE.md §6.22, RECALL_r18_pre_sf10.json) measured the
    * drop semantics losing REAL pairs once legitimate cluster size nears
    * the cap: 100-variant families put band buckets at k ≈ 100-101
    * against MaxBucket = 100, and a bucket at cap+1 vanished entirely —
    * word-minhash recall 0.9749 at true-Jaccard ≥ 0.9 (where 8-band LSH
    * miss probability is < 1e-6) and 9,862 of 500,000 docs in no emitted
    * pair despite every doc holding a true pair. At 100 TB the densest
    * buckets are exactly the mega-duplicated boilerplate a dedup pass
    * most needs to catch, so dropping them is the worst possible policy.
    *
    * An over-cap bucket now keeps the `cap` members with the smallest
    * md5(key_…_id) rank: deterministic (oracle twins rank by the same
    * md5 — ASCII hex, so JVM, UTF8String-binary, and DuckDB collation
    * agree), DECORRELATED across band/gram keys (the key is hashed in,
    * so a doc truncated from one band's bucket survives another's — a
    * min-doc_id rule would evict the same docs from every bucket), and
    * buffer-bounded ([[graft.functions.BoundedTopK]], ≤ cap entries in
    * every partial and final buffer). Under-cap buckets are untouched,
    * so low-density corpora emit bit-identical results. Downstream every
    * caller exact-verifies its candidates (Jaccard / containment /
    * cosine), so truncation can only ADD true pairs, never a false one.
    * NOT used by copy-detect: its df prune is semantic (MOSS-style
    * boilerplate evidence filtering, see [[copyDetectPairsFromDocs]]) —
    * there the drop IS the contract.
    */
  private[ops] def cappedIdListsSampled(rows: DataFrame, keys: Seq[String],
      idCol: String, cap: Int): DataFrame = {
    val rankKey = md5(concat_ws("_",
      keys.map(k => col(k).cast(StringType)) :+ col(idCol).cast(StringType): _*))
    rows.groupBy(keys.map(col): _*)
      .agg(graft.functions.BoundedCollect
        .boundedTopKCol(rankKey, col(idCol).cast(LongType), cap).as("ds0"))
      .select(keys.map(col) :+ sort_array(col("ds0")).as("ds"): _*)
      .filter(size(col("ds")) >= 2)
  }

  /** Banded candidate generation for the embedding dedup: each vector
    * lands in one bucket per table; every (table, bucket) group within
    * the size cap unnests its i<j pairs (the same one-shuffle
    * collect-cap-unnest shape as the MinHash band stream); pairs
    * colliding in several tables dedup via DISTINCT. Candidates are
    * O(N·cap·T) by construction — never all-pairs, whatever the bucket
    * skew. `maxBucket <= 0` disables the cap (the oracle-default config,
    * where the 2^8 single-table space over sf-scale corpora never skews).
    */
  private[ops] def embCandidatePairs(emb: DataFrame, nTables: Int,
      nPlanes: Int, maxBucket: Int): DataFrame = {
    val keys = bucketKeysExpr(col("embedding"), embPlaneTables(nTables, nPlanes))
    val keyed = emb.select(col("vec_id"), explode(keys).as("bkt"))
    // capped path: cap-BEFORE-collect with over-cap buckets TRUNCATING
    // to a decorrelated deterministic subset ([[cappedIdListsSampled]]) —
    // the exact-cosine verify downstream keeps precision, so truncation
    // only adds true pairs vs the r17 drop; uncapped oracle-default
    // config keeps the direct single-shuffle aggregation
    val grouped =
      if (maxBucket <= 0)
        keyed.groupBy("bkt")
          .agg(sort_array(collect_list(col("vec_id"))).as("vs"))
          .filter(size(col("vs")) >= 2)
      else cappedIdListsSampled(keyed, Seq("bkt"), "vec_id", maxBucket)
        .withColumnRenamed("ds", "vs")
    grouped
      .select(pairsExplode(col("vs")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** full embedding-cosine dedup pipeline: banded candidates → exact
    * cosine verify on candidates only. Norms are computed ONCE per
    * vector before the verify joins — per-pair norms would redo 2 of the
    * 3 dot products for every candidate.
    */
  private[ops] def embCosPairs(embIn: DataFrame, nTables: Int, nPlanes: Int,
      maxBucket: Int, thr: Double): DataFrame = {
    val emb = embIn
      .select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = embCandidatePairs(emb, nTables, nPlanes, maxBucket)
    val xa = emb.select(col("vec_id").as("a2"), col("embedding").as("ea"), col("nrm").as("na"))
    val xb = emb.select(col("vec_id").as("b2"), col("embedding").as("eb"), col("nrm").as("nb"))
    val out = cand
      .join(xa, col("a") === col("a2"))
      .join(xb, col("b") === col("b2"))
      .select(col("a"), col("b"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 4).as("cos"))
      .filter(col("cos") >= thr)
      .orderBy("a", "b")
      // output-sized; releases the corpus-scale norm cache below
      .transform(Ckpt.eager)
    emb.unpersist()
    out
  }

  /** containment pairs (contained, container, containment) with
    * |A∩B|/|A| >= `thr` — EXACT containment over the full shingle sets,
    * both directions emitted. Candidate generation is the PPJoin-family
    * posting join: two docs become a candidate iff they co-occur in some
    * gram's df-capped posting list ([[cappedIdListsSampled]]: postings
    * over `cap` keep a decorrelated deterministic cap-subset, and no
    * aggregation buffer ever exceeds cap entries). The r17 shape counted
    * intersections over the PRUNED postings — oracle-twinned but a
    * systematic undercount once real duplication density drives grams
    * over the cap: the sf10 recall audit measured 0.877 recall against
    * the unpruned ≥0.9 ground truth (SCALE.md §6.22). Scoring candidates
    * with one array_intersect over the two docs' full hash sets (the
    * same verify shape [[minhashPairs]] uses) restores exactness: a true
    * pair is missed only if the two docs share NO gram with df ≤ cap in
    * any sampled posting — pure cross-corpus boilerplate. Recall is
    * measured, not asserted: `ContainRecallSpec` at sf0.1 and
    * `graft.tools.RecallAudit` at sf1/sf10.
    */
  private[graft] def containPairs(sh: DataFrame, cap: Int,
      thr: Double = 0.9): DataFrame = {
    val posts = cappedIdListsSampled(
      sh.select(col("doc_id"), explode(col("hs")).as("h")),
      Seq("h"), "doc_id", cap)
    val cand = posts
      .select(pairsExplode(col("ds")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
    val shA = sh.select(col("doc_id").as("a"), col("hs").as("ha"))
    val shB = sh.select(col("doc_id").as("b2"), col("hs").as("hb"))
    val scored = cand.join(shA, "a").join(shB, col("b") === col("b2"))
      .select(col("a"), col("b"),
        size(array_intersect(col("ha"), col("hb"))).cast(LongType).as("inter"),
        size(col("ha")).cast(LongType).as("sza"),
        size(col("hb")).cast(LongType).as("szb"))
    // r19 opt (guide §2.4): both directions emitted from ONE pass over the
    // scored candidates — the former unionByName(dirA, dirB) planned the
    // whole cand+verify join subtree TWICE, so every per-pair
    // array_intersect over the two full hash sets (the r18 verify-payload
    // mover) was computed twice and the candidate joins ran twice. The
    // 2-struct explode is the same UNION ALL multiset: per scored pair the
    // a-direction and b-direction rows, each filtered by its own raw
    // ratio (identical IEEE division), then rounded. Pinned by
    // R19OptShapeSpec's contain test against the two-branch spelling.
    scored.select(explode(array(
        struct(col("a").as("contained"), col("b").as("container"),
          (col("inter").cast(DoubleType) / col("sza")).as("raw")),
        struct(col("b").as("contained"), col("a").as("container"),
          (col("inter").cast(DoubleType) / col("szb")).as("raw")))).as("r"))
      .filter(col("r.raw") >= thr)
      .select(col("r.contained").as("contained"),
        col("r.container").as("container"),
        round(col("r.raw"), 4).as("containment"))
  }

  // ------------------------------------------------------- IVF helpers
  /** (vec_id, embedding, norm) — the IVF working set */
  private[ops] def ivfVecs(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("vn"))

  /** deterministic seed codebook: the K lowest vec_ids */
  private[ops] def ivfSeed(v: DataFrame, k: Int): DataFrame =
    v.filter(col("vec_id") < k)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"), col("vn").as("cn"))

  /** one assignment pass: every vector to its max-cosine centroid via a
    * BROADCAST codebook and a partial-agg'd argmax (max of a (cos, -cid)
    * struct — never a window, so assignment map-side combines)
    */
  private[ops] def ivfAssign(v: DataFrame, cents: DataFrame): DataFrame =
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("vn"), col("cid"),
        (dot(col("embedding"), col("cvec")) / (col("vn") * col("cn"))).as("cos"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("cid")).as("ncid"))).as("m"),
        first(col("embedding")).as("embedding"), first(col("vn")).as("vn"))
      .select(col("vec_id"), (-col("m.ncid")).as("cid"), col("m.cos").as("cos"),
        col("embedding"), col("vn"))

  /** the Lloyd update: per-cid elementwise mean of the assigned vectors.
    * posexplode → avg per (cid, pos) is partial-agg'd map-side, so the
    * shuffle carries K×Dim rows, not corpus×Dim; components round to 6
    * decimals so the centroid literals are bit-identical across engines
    * (double summation order differs at ~1e-12; the round absorbs it and
    * keeps every downstream dot product a deterministic fold)
    */
  private[ops] def ivfMeanCentroids(assign: DataFrame): DataFrame =
    assign
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy("cid", "pos")
      .agg(round(avg(col("col").cast(DoubleType)), 6).as("v"))
      .groupBy("cid")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
        e => e("v")).as("cvec"))
      .select(col("cid"), col("cvec"),
        sqrt(dot(col("cvec"), col("cvec"))).as("cn"))

  /** nprobe-pruned top-k scan over an assigned corpus (see the ivf rows) */
  private[ops] def ivfSearch(assign: DataFrame, cents: DataFrame, v: DataFrame,
      queryVecId: Int, nprobe: Int, k: Int): DataFrame = {
    val q = v.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"), col("vn").as("qn"))
    val probes = cents.crossJoin(broadcast(q))
      .select(col("cid"),
        (dot(col("cvec"), col("qe")) / (col("cn") * col("qn"))).as("qcos"))
      .orderBy(col("qcos").desc, col("cid").asc)
      .limit(nprobe)
      .select("cid")
    assign.join(broadcast(probes), "cid")
      .filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qe")) / (col("vn") * col("qn")), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  // ------------------------------------------------------- PQ helpers
  /** product quantization: M subspaces × K centroids (8×16 over the
    * 64-dim fixture vectors — 8 4-bit codes per vector, a 64× cut vs
    * float32 storage; the memory layout IVF-PQ engines scan)
    */
  private val PqM = 8
  private val PqK = 16
  private def pqSubDim = Dim / PqM

  private def pqSub(e: Column, m: Column): Column =
    slice(e, m * pqSubDim + lit(1), lit(pqSubDim))

  /** deterministic codebook — the K lowest vec_ids' subvectors, one row
    * per (subspace m, code): (m, code, cvec, cc = ⟨cvec,cvec⟩). M×K×D/M
    * values total at ANY corpus scale — always broadcastable. A
    * production build would Lloyd-iterate per subspace (the
    * [[ivfMeanCentroids]] shape, grouped by (m, code)); the assignment
    * plan below is unchanged by better centroids.
    */
  private[ops] def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast(LongType).as("code"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("embedding"))
      .select(col("m"), col("code"), pqSub(col("embedding"), col("m")).as("cvec"))
      .withColumn("cc", dot(col("cvec"), col("cvec")))

  /** LSH-pruned top-k: score only vectors sharing >=1 table bucket with
    * the query (`arrays_overlap` over the per-table key arrays — for one
    * table this IS the oracle's bucket-equality filter)
    */
  private[ops] def annTopK(embIn: DataFrame, queryVecId: Int, k: Int,
      nTables: Int, nPlanes: Int): DataFrame = {
    val tabs = embPlaneTables(nTables, nPlanes)
    val emb = embIn.select(col("vec_id"), col("embedding"),
      bucketKeysExpr(col("embedding"), tabs).as("bkts"))
    val q = emb.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("qe"), col("bkts").as("qbkts"))
    emb.filter(col("vec_id") =!= queryVecId)
      .crossJoin(broadcast(q))
      .filter(arrays_overlap(col("bkts"), col("qbkts")))
      .select(col("vec_id"),
        round(dot(col("embedding"), col("qe")) /
          (sqrt(dot(col("embedding"), col("embedding"))) *
           sqrt(dot(col("qe"), col("qe")))), 4).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  // gram-set construction note: the distinct gram sets live as INT64
  // HASH arrays, one per document — no explode, so gram-level rows never
  // exist and nothing gram-sized ever shuffles. Hash = 60-bit md5 prefix
  // (the portable cross-engine construction, mirrored by the oracles'
  // DISTINCT over the same value). Since r7 the construction is the
  // native graft.functions.HashedGrams (the interpreted
  // transform/md5/conv/array_distinct chain it replaced is kept as the
  // property-test twin in TextSketchSpec).

  /** word-5-shingle hash sets (docs with <5 words have no shingles and
    * drop out — they cannot be near-dups)
    */
  private[graft] def shinglesDF(s: SparkSession, d: String): DataFrame = {
    // shingle construction + hashing in ONE native pass per doc
    // (graft.functions.HashedGrams — bit-identical to the former
    // transform/concat_ws/md5 chain, TextSketchSpec): the single-spaced
    // normalized text means the shingle of words [i, i+5) IS a byte
    // slice, so no per-shingle string is ever allocated
    val docs = Tables.t(s, d, "documents")
      .select(col("doc_id"), normText(col("text")).as("nt"))
      .filter(size(split(col("nt"), " ")) >= ShingleWords)
    docs.select(col("doc_id"),
      graft.functions.TextSketch.hashedWordShinglesCol(col("nt"), ShingleWords,
        xx = xxMode(s)).as("hs"))
  }

  private val sqlShingles =
    s"""SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, len(ws) - ${ShingleWords - 2}),
       |         i -> array_to_string(list_slice(ws, i, i + ${ShingleWords - 1}), ' '))) AS shingle
       |FROM (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
       |      FROM documents)
       |WHERE len(ws) >= $ShingleWords""".stripMargin

  /** char-n-gram hash sets of the normalized text, one array per doc.
    * Two SAMPLING knobs keep the per-doc work bounded (r6, probe-measured:
    * gram substr-construction 1.7 s + md5 1.5 s dominated the 5.5 s query):
    *  - grams start every [[NgramStride]] chars, not every char — halves
    *    both the substr allocation and the md5 count;
    *  - only gram hashes ≡ 0 (mod [[NgramSampleMod]]) are kept (mod-p
    *    sketching, the standard bottom-sketch family) — the retained set
    *    is a uniform, deterministic ¼ sample, so downstream signatures and
    *    the exact-Jaccard verify run on ¼ the elements. Jaccard over a
    *    mod-p sample concentrates to the full-set Jaccard, and the oracle
    *    applies the IDENTICAL stride + hash-mod, so parity is exact. The
    *    oracle parity cannot see quality loss (both sides are sampled) —
    *    NgramRecallSpec measures it against the unsampled pipeline:
    *    recall 1.000, precision 1.000 at sf0.1 (256/256 pairs identical).
    *    At 100 TB these knobs are precisely the ones you'd turn: both
    *    scale per-doc cost, not corpus-shuffle cost.
    */
  private[graft] def ngramsDF(s: SparkSession, d: String,
      stride: Int = NgramStride, sampleMod: Int = NgramSampleMod): DataFrame = {
    val docs = Tables.t(s, d, "documents")
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .filter(length(col("norm")) >= NgramLen)
    // NOTE: no `.filter(size(hs) > 0)` guard here — a filter on the derived
    // column makes Catalyst duplicate the whole gram+md5 expression into
    // the predicate (measured 2x the query). A doc whose sampled set is
    // empty instead dies naturally downstream: its minhashes are all NULL,
    // so every est-filter agreement is 0 < estMin and it can never reach
    // the verify — the same absence the oracle's per-gram rows produce.
    //
    // gram slicing + md5 + distinct + mod-sample fused into ONE native
    // pass per doc (graft.functions.HashedGrams; bit-identical to the
    // former substr/md5/conv/array_distinct/filter chain — TextSketchSpec.
    // That interpreted chain alone cost 1.9-3.0 s at sf0.1, measured r7;
    // SCALE.md §5, MinHash row)
    docs.select(col("doc_id"),
      graft.functions.TextSketch.hashedCharGramsCol(
        col("norm"), NgramLen, stride, sampleMod, xx = xxMode(s)).as("hs"))
  }

  private val sqlNgrams =
    s"""SELECT DISTINCT doc_id,
       |  unnest(list_transform(range(1, length(norm) - ${NgramLen - 2}, $NgramStride),
       |         i -> substring(norm, i, $NgramLen))) AS shingle
       |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |      FROM documents)
       |WHERE length(norm) >= $NgramLen""".stripMargin

  /** Banded-MinHash LSH over per-doc gram-hash ARRAYS -> near-dup pairs
    * (a, b, jac) with exact Jaccard >= thr. The r5 shape: signatures are
    * a pure narrow map over each doc's array (16 codegen'd
    * transform+array_min passes), so GRAM-level data never shuffles —
    * the former explode + corpus-wide groupBy is gone. The only shuffles
    * left are doc-count-sized: the 8-rows-per-doc band buckets and the
    * candidate joins. The doc-level (hs + signature) table feeds four
    * consumers (bands, both est-filter sides, both verify sides); one
    * spill-safe materialization is the 100 TB shape.
    */
  private[graft] def minhashPairs(shIn: DataFrame, numHashes: Int, bands: Int,
      thr: Double, maxBucket: Int = MaxBucket,
      ordered: Boolean = true): DataFrame = {
    val rows = numHashes / bands
    // minhashes from the universal-hash family (a_i * x + b_i) mod P over
    // each doc's gram hashes (see [[HashP]]) — per-row expressions only.
    // The r5-verdict "single aggregate fold with a 16-field struct
    // accumulator" was built and MEASURED SLOWER (3.67 s vs 3.37 s for the
    // sweeps over the identical input, sf0.1, local[32]): the fold
    // allocates a struct per ELEMENT in the interpreted higher-order-
    // function path, which outweighs the saved array traversals. Kept the
    // sweeps; the real ngram lever is gram-set sampling (see [[ngramsDF]]).
    // the full signature in ONE native pass over each doc's gram set
    // (graft.functions.MinHashSig) instead of numHashes interpreted
    // array_min(transform(...)) sweeps; bit-identical incl. the
    // empty-set -> null behavior (TextSketchSpec). An empty sampled set
    // yields sig NULL -> every element-compare below is null-false, the
    // same dead end the all-NULL sweep columns produced.
    val sh = shIn.toDF("doc_id", "hs")
      .select(col("doc_id"), col("hs"),
        graft.functions.TextSketch.minhashSigCol(
          col("hs"), hashCoeffs.take(numHashes)).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mh = sh.drop("hs")
    // bands of `rows` minhash rows -> (band, key) bucket stream
    val bandArr = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        concat_ws("_", (1 to rows).map(r =>
          col("sig")(rows * j + r - 1).cast(StringType)): _*).as("bkey"))
    }: _*)
    val bandsAll = mh.select(col("doc_id"), explode(bandArr).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.bkey").as("bkey"))
    // candidate pairs per bucket: group each (band, bkey) bucket into a
    // sorted doc list with the bucket-size cap applied BEFORE the list is
    // collected (an unbounded bucket carries O(k²) pairs and a multi-GB
    // aggregation buffer — LSH hygiene, r2 measured one bucket holding
    // 63% of the corpus), and unnest the i<j pairs. Same pair set as a
    // bucket self-join (so the oracle twin keeps its join formulation)
    // without the join's extra shuffles; every aggregation buffer is
    // bounded at maxBucket docs. r18: over-cap buckets TRUNCATE to a
    // decorrelated deterministic cap-subset instead of dropping — the
    // sf10 recall audit measured the drop losing 2.5% of true ≥0.9-Jaccard
    // pairs once real cluster size nears the cap ([[cappedIdListsSampled]])
    // r19 opt (guide §2.4): ONE aggregation over the band stream yields
    // BOTH the truncated clique lists and the bucket sizes — the former
    // shape ran [[cappedIdListsSampled]] AND a separate count() pass over
    // the same stream just to find the over-cap ring keys, i.e. one extra
    // map pass + one extra exchange per dedup query. The two consumers
    // below share one exchange (ReusedExchange), so the band stream is
    // shuffled exactly once. Semantics identical: the rank key, the
    // clique filter (|ds| >= 2) and the over-cap key set (bsz > cap) are
    // the same sets the two-pass shape produced (R19OptShapeSpec pins
    // list- and key-set equality against the reference two-pass spelling).
    val bandRank = md5(concat_ws("_", col("band").cast(StringType),
      col("bkey"), col("doc_id").cast(StringType)))
    val grouped = bandsAll.groupBy(col("band"), col("bkey"))
      .agg(graft.functions.BoundedCollect
        .boundedTopKCol(bandRank, col("doc_id").cast(LongType), maxBucket).as("ds0"),
        count(lit(1)).as("bsz"))
      // persisted so the clique and over-cap consumers SHARE one physical
      // aggregation: without it, column pruning rewrites the over-cap
      // branch to a count-only aggregate (ds0 unused there), the exchanges
      // stop being identical, and the plan degenerates back to the
      // two-pass shape (verified in plans/r19/minhash_cand_*.txt). The
      // cache is bucket-aggregate-sized (≤ cap ids per bucket — the same
      // order as the sh cache), spill-safe, and released below with sh.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cliqueCand = grouped
      .select(sort_array(col("ds0")).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(pairsExplode(col("ds")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    // ring candidates for OVER-cap buckets (r18): the truncated clique
    // alone leaves a pair's survival at (cap/k)² per band — measured
    // residual at sf10 density: word 0.9967, ngram 0.9462, with 80 of
    // 500,000 docs in no emitted pair (SCALE.md §6.22). Pair-level
    // exhaustiveness inside an over-dense bucket is irreducibly O(k²),
    // but the pipeline consumers (dedup_cluster / keep_best /
    // split_leakfree) need CONNECTIVITY, so every over-cap bucket also
    // links each member to its md5-rank successor: O(k) candidates per
    // bucket, computed as a WINDOW over the band stream — no aggregation
    // buffer at all, sort-based and spill-safe at any bucket size (the
    // standard star/ring edge set of web-scale dedup). Ring pairs flow
    // through the same est-filter + exact-Jaccard verify, so precision
    // is untouched; under-cap buckets contribute nothing new (their
    // clique already holds every adjacent pair).
    val ringCand = {
      // restrict the window to the over-cap SLIVER first: a windowed
      // bucket-size count over the whole band stream sorts N·bands rows
      // to keep a few thousand (measured +0.2-0.4 s per dedup query at
      // sf0.1). The over-cap key set now falls out of the SAME grouped
      // aggregate the clique uses (r19: was a second count pass) and is
      // usually tiny — AQE broadcast-joins it back onto the stream; in a
      // pathological corpus where it is large, AQE falls back to a
      // shuffle join and the plan still never holds a bucket in memory.
      val overKeys = grouped.filter(col("bsz") > maxBucket)
        .select(col("band"), col("bkey"))
      val ord = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bkey")).orderBy(bandRank, col("doc_id"))
      bandsAll.join(overKeys, Seq("band", "bkey"))
        .withColumn("nxt", lead(col("doc_id"), 1).over(ord))
        .filter(col("nxt").isNotNull)
        .select(least(col("doc_id"), col("nxt")).as("a"),
          greatest(col("doc_id"), col("nxt")).as("b"))
    }
    val candRaw = cliqueCand.unionByName(ringCand).distinct()
    // signature-estimate filter (the standard MinHash cascade, MMDS ch.3):
    // the band collision admits pairs well below the threshold when the
    // corpus has mid-similarity mass (measured sf0.1: 36k band candidates
    // for 256 final pairs). The minhash agreement fraction estimates
    // Jaccard at 16 integer comparisons per pair, so sub-threshold
    // candidates die BEFORE the gram-level verify join. The 0.3 margin
    // keeps P[est < thr-0.3 | true j >= thr] negligible (<1%), and the
    // filter is deterministic — the oracle applies the identical one.
    // (r6 note: fusing this into the verify join was tried and measured
    // 2x SLOWER — the fused join ships every candidate's gram-hash array
    // (~12 KB/row) where this cascade ships 16 longs until the estimate
    // passes. The two-stage shape is also the 100 TB shape: narrow first.)
    val estMin = math.max(0, math.ceil(numHashes * (thr - 0.3)).toInt)
    val agree = (0 until numHashes).map(i =>
      when(col("ma.sig")(i) === col("mb.sig")(i), 1).otherwise(0)).reduce(_ + _)
    val cand = candRaw
      .join(mh.as("ma"), col("a") === col("ma.doc_id"))
      .join(mh.as("mb"), col("b") === col("mb.doc_id"))
      .filter(agree >= estMin)
      .select("a", "b")
    // exact-Jaccard verify restricted to the surviving candidates: the
    // per-pair intersection is one hashed array_intersect over the two
    // docs' distinct-hash sets — no gram-level join, no groupBy
    val shA = sh.select(col("doc_id").as("a"), col("hs").as("ha"))
    val shB = sh.select(col("doc_id").as("b2"), col("hs").as("hb"))
    val jac = col("inter").cast(DoubleType) /
      (col("sz_a") + col("sz_b") - col("inter"))
    val verified = cand.join(shA, "a").join(shB, col("b") === col("b2"))
      .select(col("a"), col("b"),
        size(array_intersect(col("ha"), col("hb"))).cast(LongType).as("inter"),
        size(col("ha")).cast(LongType).as("sz_a"),
        size(col("hb")).cast(LongType).as("sz_b"))
      .withColumn("jac_raw", jac)
      .filter(col("jac_raw") >= thr)
      .select(col("a"), col("b"), round(col("jac_raw"), 4).as("jac"))
    // r19 opt: the total ORDER BY is only part of the contract for the
    // queries that EMIT the pair list (near/ngram); the five pipeline
    // consumers (cluster/keep_best/split_leakfree/incremental/e2e)
    // immediately re-aggregate, so for them `ordered = false` skips a
    // range exchange + its sampling job per query — the pair SET is
    // unchanged and every consumer's own final ORDER BY still runs.
    val out = (if (ordered) verified.orderBy("a", "b") else verified)
      // materialize the (output-sized) pair set on executor-local storage
      // and release the corpus-scale shingle cache BEFORE returning, so a
      // user session holds no corpus-sized cache after the call. Local
      // checkpoint (not reliable checkpoint) because it needs no external
      // FS; the one block set left behind is output-sized, never
      // corpus-sized, and the ContextCleaner reclaims it once the caller
      // drops the DataFrame.
      .transform(Ckpt.eager)
    sh.unpersist()
    grouped.unpersist()
    out
  }

  /** oracle twin of [[minhashPairs]], parameterized on the grams CTE */
  private def sqlMinhashPairs(gramsSql: String, numHashes: Int, bands: Int,
      thr: Double, maxBucket: Int = MaxBucket, sampleMod: Int = 1): String = {
    val rows = numHashes / bands
    val minhashes = (1 to numHashes).map { i =>
      val (a, b) = hashCoeffs(i - 1)
      s"min(($a * x + $b) % $HashP) AS m$i"
    }.mkString(", ")
    val bandCase = (0 until bands)
      .map(j => s"WHEN ${j} THEN concat_ws('_', ${(1 to rows).map(r => s"CAST(m${rows * j + r} AS VARCHAR)").mkString(", ")})")
      .mkString("CASE band ", " ", " END")
    val bandVals = (0 until bands).map(j => s"($j)").mkString(", ")
    s"""WITH sh0 AS ($gramsSql),
       |sh1 AS (SELECT DISTINCT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS shingle FROM sh0),
       |sh AS (SELECT doc_id, shingle FROM sh1 WHERE shingle % $sampleMod = 0),
       |shx AS (SELECT doc_id, shingle % $HashP AS x FROM sh),
       |mh AS (SELECT doc_id, $minhashes FROM shx GROUP BY doc_id),
       |bands_all AS (SELECT doc_id, band, $bandCase AS bkey
       |          FROM mh CROSS JOIN (VALUES $bandVals) bb(band)),
       |ranked AS (SELECT doc_id, band, bkey,
       |                 row_number() OVER (PARTITION BY band, bkey
       |                   ORDER BY md5(CAST(band AS VARCHAR) || '_' || bkey || '_' || CAST(doc_id AS VARCHAR)), doc_id) AS rn,
       |                 lead(doc_id) OVER (PARTITION BY band, bkey
       |                   ORDER BY md5(CAST(band AS VARCHAR) || '_' || bkey || '_' || CAST(doc_id AS VARCHAR)), doc_id) AS nxt,
       |                 count(*) OVER (PARTITION BY band, bkey) AS bsz
       |          FROM bands_all),
       |bands AS (SELECT doc_id, band, bkey FROM ranked WHERE rn <= $maxBucket),
       |ring AS (SELECT least(doc_id, nxt) AS a, greatest(doc_id, nxt) AS b
       |         FROM ranked WHERE bsz > $maxBucket AND nxt IS NOT NULL),
       |cand_raw AS (SELECT x.doc_id AS a, y.doc_id AS b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
       |         UNION SELECT a, b FROM ring),
       |cand AS (SELECT a, b FROM cand_raw c
       |         JOIN mh ma ON ma.doc_id = c.a
       |         JOIN mh mb ON mb.doc_id = c.b
       |         WHERE ${(1 to numHashes).map(i => s"(CASE WHEN ma.m$i = mb.m$i THEN 1 ELSE 0 END)").mkString(" + ")}
       |               >= ${math.max(0, math.ceil(numHashes * (thr - 0.3)).toInt)}),
       |inter AS (SELECT c.a, c.b, count(*) AS inter
       |          FROM cand c
       |          JOIN sh sa ON sa.doc_id = c.a
       |          JOIN sh sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
       |          GROUP BY c.a, c.b),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
       |SELECT i.a, i.b,
       |       round(CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter), 4) AS jac
       |FROM inter i JOIN sz za ON za.doc_id = i.a JOIN sz zb ON zb.doc_id = i.b
       |WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= $thr
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------ connected components
  /** Loop conf for iterative-CC supersteps: AQE off (per-stage job
    * materialization dominates output-sized supersteps — measured 40%
    * slower with it on, r5) and shuffle partitions sized by the EDGE
    * count, not the session default: superstep inputs are pair-set-sized,
    * typically orders of magnitude below the corpus the session is
    * configured for, so 32 partitions of a few-thousand-row shuffle are
    * pure task overhead. ~500k edges/partition (a sub-500k pair set runs
    * single-task stages — the loop data is output-scale, not corpus
    * scale), never ABOVE the session setting: at 100 TB edge counts the
    * sizing clamps back up to the session's parallelism.
    */
  private def withCcLoopConf[T](s: SparkSession, edgeCount: Long)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val aqePrev = s.conf.get(aqeKey, "true")
    val partPrev = s.conf.get(partKey)
    val loopParts = math.max(1L,
      math.min(partPrev.toLong, edgeCount / 500000L + 1L))
    s.conf.set(aqeKey, "false")
    s.conf.set(partKey, loopParts.toString)
    try body
    finally { s.conf.set(aqeKey, aqePrev); s.conf.set(partKey, partPrev) }
  }

  /** Connected components of an undirected pair list -> (doc_id, label),
    * label = min doc_id in the component; every doc appearing in a pair
    * gets a row. The result is localCheckpoint'd (lineage-free,
    * output-sized) and all superstep caches are released before return.
    *
    * Three strategies are kept so the choice stays measured, not asserted
    * (SCALE.md §5, dedup-clustering row; sf0.1, local[32], warm, same
    * checkpointed pair input — so the numbers isolate the superstep loop):
    *  - [[ccMinLabel]] — one-hop min-label propagation, the r5/r6 shape:
    *    O(diameter) supersteps of join + min-agg. Measured 0.99 s.
    *  - [[ccTwoHop]] — the same propagation fused two hops per Spark job.
    *    Measured 0.96 s — the winner, and the margin is structural, not
    *    local: it halves the driver action count (convergence probes
    *    included), which on a real cluster is a scheduler round-trip per
    *    superstep, the term that grows with cluster size rather than
    *    data size.
    *  - [[ccStars]] — alternating large-star/small-star edge contraction
    *    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    *    SoCC'14): O(log² n) rounds on adversarial graphs. Measured
    *    2.15 s: near-dup components are near-cliques that min-propagation
    *    already collapses in 2-3 hops, so the star rounds' extra shuffles
    *    (~3 + a distinct, vs propagation's 2) buy nothing here. Kept for
    *    the pathological-diameter regime (long chain-of-duplicates
    *    graphs), where propagation pays O(diameter) and stars pay
    *    O(log²); CcSpec covers both on the same inputs.
    * All three size their loop shuffles by edge count and run AQE-off in
    * the loop ([[withCcLoopConf]]) — that change alone took the full
    * cluster query 3.14 s (r6 bench) -> ~2.5 s before any strategy swap.
    */
  /** edge-count bound for the single-task union-find path: 5M (a, b)
    * pairs ≈ 80 MB — comfortably one task's worth
    */
  private[graft] val CcLocalMaxEdges = 5000000L

  private[graft] def ccLabels(s: SparkSession, pairs0: DataFrame): DataFrame = {
    // uniform output schema whichever strategy the edge count dispatches
    // to (r8 advice): the union-find path needs LongType internally, so
    // every strategy receives LongType pairs — the caller-visible label
    // schema no longer depends on the runtime size that picks the path
    val pairs = pairs0.select(col("a").cast(LongType), col("b").cast(LongType))
    // the pair list is OUTPUT-sized (it survived banding + estimate
    // filter + exact verify — orders of magnitude below the corpus), so
    // the common case at ANY corpus scale is an edge set that fits one
    // task: a single mapPartitions of path-compressed union-find — one
    // job, no supersteps, no driver round-trips (probe cc_unionfind:
    // 0.95 s -> ~0.2 s for the full label step at sf0.1). Edge sets
    // above the bound dispatch to the distributed two-hop propagation.
    // pairs arrive localCheckpoint'd from minhashPairs, so the count is
    // a cheap cached-block scan, not a pipeline re-run.
    if (pairs.count() <= CcLocalMaxEdges) ccUnionFind(s, pairs)
    else ccTwoHop(s, pairs)
  }

  /** single-partition path-compressed union-find (see [[ccLabels]]);
    * min-root union makes each root the component MINIMUM — the same
    * label contract as the propagation strategies
    */
  private[graft] def ccUnionFind(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val out = pairs.select(col("a").cast(LongType), col("b").cast(LongType))
      .as[(Long, Long)]
      .repartition(1)
      .mapPartitions { it =>
        val parent = scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a)
          parent.getOrElseUpdate(b, b)
          val ra = find(a)
          val rb = find(b)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
        parent.keysIterator.map(x => (x, find(x)))
      }
      .toDF("doc_id", "label")
      // same lifecycle contract as the loop strategies: output-sized,
      // lineage-free (downstream re-actions must not re-run the pair set)
      .transform(Ckpt.eager)
    out
  }

  /** one-hop min-label propagation to fixpoint (see [[ccLabels]]).
    *
    * Every superstep result is eagerly `localCheckpoint`ed, NOT merely
    * persisted: the next superstep references its predecessor 2-4 times
    * (join + union), so without lineage TRUNCATION the logical plan
    * doubles per iteration and analysis/cache-lookup cost turns
    * exponential in the iteration count — invisible on near-clique dedup
    * graphs (2-3 supersteps) but a guaranteed driver melt on a
    * diameter-k chain (CcSpec's chain case hung the r7 pre-fix build at
    * k=9). A checkpoint per superstep keeps every plan O(1); the blocks
    * are output-sized and the ContextCleaner reclaims each as its
    * DataFrame goes out of scope.
    */
  private[graft] def ccMinLabel(s: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      .transform(Ckpt.eager) // materializes under the session conf
    val nEdges = edges.count()
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
    withCcLoopConf(s, nEdges) {
      labels = labels.transform(Ckpt.eager)
      // labels only DECREASE under min-propagation, so sum(label) strictly
      // decreases until the fixpoint — one cheap aggregate is the
      // convergence probe (the checkpoint above already materialized)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < 20) {
        val prop = labels.join(edges, labels("doc_id") === edges("a"))
          .select(col("b").as("doc_id"), col("label"))
        val next = labels.unionByName(prop)
          .groupBy("doc_id").agg(min("label").as("label"))
          .transform(Ckpt.eager)
        val nextSum = labelSum(next)
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        iter += 1
      }
      require(converged,
        s"ccMinLabel did not converge in $iter supersteps — component " +
        "diameter exceeds the cap; raise it rather than returning SPLIT " +
        "cluster labels (review-found: a silent cap exit mislabels)")
    }
    labels
  }

  /** two-hop-fused min-label propagation (see [[ccLabels]]): each Spark
    * job advances labels across TWO edge hops (join → min-agg → join →
    * min-agg in one plan), so a diameter-D component converges in ⌈D/2⌉+1
    * actions instead of D+1. The per-job plan is deeper (3 shuffles vs 2)
    * but superstep data is output-sized; the driver round-trips and job
    * scheduling are what the clock pays for.
    */
  private[graft] def ccTwoHop(s: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
      .transform(Ckpt.eager)
    val nEdges = edges.count()
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).collect()(0).getLong(0)
    withCcLoopConf(s, nEdges) {
      // seed labels at the state AFTER one propagation hop — min(v, Γ(v))
      // in the same single shuffle the self-init would cost — so a
      // near-clique component converges in one two-hop superstep plus the
      // confirming pass. Superstep checkpoints are LAZY: the convergence
      // aggregate right after is the materializing action (one job per
      // superstep, not checkpoint-job + probe-job); lineage truncation
      // per superstep — see [[ccMinLabel]].
      var labels = edges.groupBy(col("a").as("doc_id")).agg(min("b").as("nmin"))
        .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
        .transform(Ckpt.lazily)
      var prevSum = labelSum(labels)
      var converged = false
      var iter = 0
      while (!converged && iter < 10) {
        val hop1 = labels.join(edges, labels("doc_id") === edges("a"))
          .select(col("b").as("doc_id"), col("label"))
        val mid = labels.unionByName(hop1)
          .groupBy("doc_id").agg(min("label").as("label"))
        val hop2 = mid.join(edges, mid("doc_id") === edges("a"))
          .select(col("b").as("doc_id"), col("label"))
        val next = mid.unionByName(hop2)
          .groupBy("doc_id").agg(min("label").as("label"))
          .transform(Ckpt.lazily)
        val nextSum = labelSum(next)
        labels = next
        converged = nextSum == prevSum
        prevSum = nextSum
        iter += 1
      }
      require(converged,
        s"ccTwoHop did not converge in $iter supersteps (~2 hops each) — " +
        "component diameter exceeds the cap; raise it rather than " +
        "returning SPLIT cluster labels (review-found)")
      labels
    }
  }

  /** alternating large-star/small-star contraction (see [[ccLabels]]).
    * Edges stay oriented u > v; large-star hangs every larger neighbor of
    * a node onto its neighborhood minimum, small-star the smaller ones —
    * at the fixpoint the edge set is a star forest rooted at component
    * minima. Convergence is detected by an (edge-count, XOR xxhash64(u,v))
    * signature going stationary (XOR, not sum: order-independent and
    * overflow-free under ANSI; the edge set is distinct so nothing
    * cancels): the pair only repeats across distinct edge sets with
    * ~2⁻⁶⁴ probability, and the contraction converges regardless
    * (Kiveris et al. thm 1), so a collision could only end the loop one
    * round early, never corrupt a converged answer.
    */
  private[graft] def ccStars(s: SparkSession, pairs: DataFrame): DataFrame = {
    var e = pairs
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Ckpt.eager) // per-round lineage truncation — see [[ccMinLabel]]
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var prev = sig(e)
    withCcLoopConf(s, prev._1) {
      var converged = false
      var iter = 0
      while (!converged && iter < 15) {
        // large-star: for each center u, hang every neighbor v > u onto
        // m = min(Γ(u) ∪ {u}); output stays strictly oriented (v > u ≥ m)
        val sym = e.select(col("u"), col("v"))
          .union(e.select(col("v").as("u"), col("u").as("v")))
        val lsMin = sym.groupBy("u").agg(min("v").as("mn"))
          .select(col("u").as("cu"), least(col("mn"), col("u")).as("m"))
        val ls = sym.join(lsMin, sym("u") === lsMin("cu"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star over the oriented output: hang each center u and its
        // smaller neighbors onto their minimum (all ≥ m, so still oriented)
        val ssMin = ls.groupBy("u").agg(min("v").as("m2"))
        val ss = ls.join(ssMin, "u")
          .select(col("v").as("n"), col("m2").as("m"))
          .union(ssMin.select(col("u").as("n"), col("m2").as("m")))
          .filter(col("n") =!= col("m"))
          .select(col("n").as("u"), col("m").as("v"))
          .distinct()
          .transform(Ckpt.eager)
        val cur = sig(ss)
        e = ss
        converged = cur == prev
        prev = cur
        iter += 1
      }
      require(converged,
        s"ccStars did not converge in $iter rounds — raise the cap " +
        "rather than returning a half-contracted star forest (review-found)")
    }
    // star forest: non-roots point at their component min; roots self-label
    e.select(col("u").as("doc_id"), col("v").as("label"))
      .union(e.select(col("v").as("doc_id"), col("v").as("label")))
      .groupBy("doc_id").agg(min("label").as("label"))
      .transform(Ckpt.eager)
  }

  // ---------------------------------------------- r9 factored helpers
  // (spec-injectable corpora, same pattern as [[copyDetectPairsFromDocs]])

  /** Corpus-level duplicated-passage REMOVAL (the CCNet/RefinedWeb
    * line-dedup analog — the fixture texts have no newlines, so fixed
    * [[SegW]]-word non-overlapping segments stand in for lines). Per doc:
    * segment, count each segment's document frequency corpus-wide, and
    * REWRITE the doc keeping only segments in ≤ [[SegDupDf]] docs —
    * repeated passages (mirrored boilerplate, syndicated headers) vanish
    * while per-doc-unique text survives. Shape: one segment explode
    * (corpus-linear), a distinct-df aggregate (segment-vocabulary-sized),
    * join back, and a per-DOC ordered reassembly whose buffer is bounded
    * by the document length — never corpus-sized state.
    * `docs` = (doc_id, nt normalized text).
    */
  private[ops] def segmentDedupFromDocs(docs: DataFrame): DataFrame = {
    val nseg = ceil(size(col("ws")).cast(DoubleType) / SegW).cast(IntegerType)
    val segs = docs
      .select(col("doc_id"), split(col("nt"), " ").as("ws"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(1), nseg), i =>
          struct(i.as("seg_idx"),
            concat_ws(" ",
              slice(col("ws"), (i - 1) * SegW + lit(1), lit(SegW))).as("seg")))).as("sg"))
      .select(col("doc_id"), col("sg.seg_idx").as("seg_idx"), col("sg.seg").as("seg"))
    // r20 opt (guide §2.5, VERDICT r19 item 3): the r19 stacked-window
    // spelling's second window (`sum over (partition by seg)`) shuffled
    // the full segment stream by a key that is hot BY DESIGN — the
    // duplicated segments are the target — and WindowExec buffers each
    // key's partition whole and is excluded from AQE skew splitting: a
    // viral segment (syndicated header in most of a 100 TB corpus)
    // serializes onto one task (SkewProbe measured the bound; SCALE.md
    // §r20). Two-level distinct-df instead: distinct (doc, seg) pairs —
    // partial-agg dedup on a NOT-hot composite key — then a map-side-
    // combined per-seg count whose exchange carries one partial count
    // per seg per map task, never a row set. Only the >threshold
    // segments (the DUP table — small by construction: each costs >
    // SegDupDf corpus rows) join back; AQE broadcasts it when small and
    // keeps a skew-splittable shuffle join otherwise. The segment
    // explode is planned on both sides (one extra pass) — the price of
    // the skew-safe shape; df semantics identical (count of DISTINCT
    // docs per segment), pinned set-identical against the r19 stacked-
    // window spelling by R20OptShapeSpec incl. the intra-doc duplicate
    // and planted-viral-segment cases.
    val dup = segs.select("doc_id", "seg").distinct()
      .groupBy("seg").agg(count(lit(1)).as("df"))
      .filter(col("df") > SegDupDf)
      .select(col("seg"), lit(true).as("is_dup"))
    val keep = !coalesce(col("is_dup"), lit(false))
    segs
      .join(dup, Seq("seg"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(keep, struct(col("seg_idx"), col("seg"))))),
          x => x("seg")), " ").as("clean"))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        length(col("clean")).cast(LongType).as("clean_len"),
        substring(md5(col("clean")), 1, 16).as("clean_digest"))
  }

  /** Per-source document cap (the standard web-pipeline domain cap: no
    * single domain may dominate the corpus). The keep-set per source is
    * chosen by deterministic md5 rank INSIDE the aggregate
    * ([[graft.functions.BoundedTopK]], buffers ≤ cap by construction), so
    * a billion-doc domain costs one partial-agg shuffle of ≤ cap rows per
    * (partition, source) — never the per-source end-to-end sort the
    * `row_number()` window spelling pays. Verdicts come from a BROADCAST
    * join against the keep-sets (sources × cap rows — MBs at any corpus
    * scale). `docs` = (doc_id, source).
    */
  private[graft] def domainCapFromDocs(docs: DataFrame, cap: Int): DataFrame = {
    val withH = docs.select(col("doc_id"), col("source"),
      md5(col("doc_id").cast(StringType)).as("hx"))
    val keep = withH.groupBy("source")
      .agg(graft.functions.BoundedCollect.boundedTopKCol(
        col("hx"), col("doc_id"), cap).as("picked"))
      .select(explode(col("picked")).as("doc_id"), lit(1L).as("k"))
    withH.join(broadcast(keep), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("k"), lit(0L)).as("kept"))
  }

  /** Token-budget mixture sampling: allot `frac` of the corpus's tokens
    * across sources by fixed quality weights (4-char sources — src0-src9 —
    * weigh 2×), then within each source admit docs in deterministic md5
    * order until the source's budget is spent. The scale design is
    * TWO-LEVEL: docs hash into 256 rank-buckets (the 2-hex-char md5
    * prefix — bucket order IS hash-order prefix order), bucket token sums
    * cumulate in a sources×256-row plane, and only the ONE boundary
    * bucket per source (budget falls inside it) ranks its members with a
    * window — every other bucket resolves keep/drop wholesale. Sorting
    * touches ~1/256 of the corpus; the window spelling the oracle states
    * would sort all of it. Returns per-doc verdicts
    * (doc_id, source, tok, kept). `docs` = (doc_id, source, nt).
    */
  /** (verdicts, budgets) — see [[mixtureVerdictsFromDocs]]. TWO corpus
    * scans total: the bucket plane (per-(source, bucket) token sums, from
    * which the per-source totals, weights, and budgets all derive — no
    * separate corpus aggregate) and the verdict pass. The budget float
    * chain (wt/wsum * ctot * frac, left-assoc, floor) is stated
    * identically in the oracle SQL so both engines compute the same IEEE
    * doubles.
    */
  private[ops] def mixtureCore(docs: DataFrame, frac: Double): (DataFrame, DataFrame) = {
    val base = docs.select(col("doc_id"), col("source"),
        size(split(col("nt"), " ")).cast(LongType).as("tok"),
        md5(col("doc_id").cast(StringType)).as("hx"))
      .withColumn("bk", substring(col("hx"), 1, 2))
    // the plane is provably tiny (≤ sources × 256 rows) at ANY corpus
    // scale — materializing it once (eager localCheckpoint, the ccLabels
    // convention) stops the totals/offsets/verdict consumers from each
    // re-scanning the corpus through its lineage
    val buckets = base.groupBy("source", "bk").agg(sum("tok").as("btok"))
      .transform(Ckpt.eager)
    val bySrc = buckets.groupBy("source").agg(sum(col("btok")).as("tok_total"))
      .withColumn("wt",
        when(length(col("source")) === 4, lit(2.0)).otherwise(lit(1.0)))
    val tot = bySrc.agg(sum("wt").as("wsum"), sum("tok_total").as("ctot"))
    val budgets = bySrc.crossJoin(broadcast(tot))
      .select(col("source"),
        floor(col("wt") / col("wsum") * col("ctot") * frac)
          .cast(LongType).as("budget"))
    val wB = Window.partitionBy("source").orderBy("bk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val offs = buckets
      .withColumn("off_end", sum(col("btok")).over(wB))
      .withColumn("off_start", col("off_end") - col("btok"))
      .join(budgets, "source")
      .select(col("source"), col("bk"), col("off_start"), col("off_end"), col("budget"))
    val tagged = base.join(broadcast(offs), Seq("source", "bk"))
    val isBoundary = col("off_start") < col("budget") && col("off_end") > col("budget")
    // one branch resolves every non-boundary bucket wholesale: a fully
    // funded bucket keeps all members, and off_start >= budget drops all
    // (tok >= 1 always — split('') = [''] — so the bucket's first member
    // already lands past the budget)
    val wholesale = tagged.filter(!isBoundary)
      .select(col("doc_id"), col("source"), col("tok"),
        when(col("off_end") <= col("budget"), 1L).otherwise(0L).as("kept"))
    val wD = Window.partitionBy("source", "bk").orderBy("hx", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = tagged.filter(isBoundary)
      .withColumn("cum", col("off_start") + sum(col("tok")).over(wD))
      .select(col("doc_id"), col("source"), col("tok"),
        when(col("cum") <= col("budget"), 1L).otherwise(0L).as("kept"))
    (wholesale.unionByName(boundary), budgets)
  }

  private[graft] def mixtureVerdictsFromDocs(docs: DataFrame, frac: Double): DataFrame =
    mixtureCore(docs, frac)._1

  /** (source, budget) — sources-sized; derives from the bucket plane */
  private[ops] def mixtureBudgets(docs: DataFrame, frac: Double): DataFrame =
    mixtureCore(docs, frac)._2

  /** the window-cumsum reference spelling of [[mixtureVerdictsFromDocs]]
    * — spec-only (Round9PipelineSpec proves the bucketed plan emits the
    * identical verdict set); the oracle SQL states this same shape
    */
  private[graft] def mixtureVerdictsReference(docs: DataFrame, frac: Double): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"),
      size(split(col("nt"), " ")).cast(LongType).as("tok"),
      md5(col("doc_id").cast(StringType)).as("hx"))
    val budgets = mixtureBudgets(docs, frac)
    val w = Window.partitionBy("source").orderBy("hx", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("cum", sum(col("tok")).over(w))
      .join(budgets, "source")
      .select(col("doc_id"), col("source"), col("tok"),
        when(col("cum") <= col("budget"), 1L).otherwise(0L).as("kept"))
  }

  val queries: Map[String, QFn] = Map(
    // -------------------------------------------------------- exact dedup
    "q_llm_dedup_exact" -> { (s, d) =>
      Tables.t(s, d, "documents")
        .groupBy(normText(col("text")).as("norm"))
        .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("dup_cnt"))
        .select("doc_id", "dup_cnt")
        .orderBy("doc_id")
    },

    // ------------------------------------------- near-dup: banded MinHash
    "q_llm_dedup_near" -> { (s, d) =>
      minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold)
    },

    // --------------------------------- near-dup: char-3-gram MinHash LSH
    "q_llm_dedup_ngram" -> { (s, d) =>
      minhashPairs(ngramsDF(s, d), NgramHashes, NgramBands, NgramThreshold,
        maxBucket = NgramMaxBucket)
    },

    // ------------------------------------ near-dup: banded 64-bit SimHash
    "q_llm_dedup_simhash" -> { (s, d) =>
      // one md5 per word OCCURRENCE (simhash weights by term frequency);
      // sig bit b votes with bit b of the md5's 64-bit prefix, decoded
      // ONCE per row into 4x16-bit integer chunks. The signature itself is
      // BIT-PACKED into four 16-bit ints s0..s3 (one per Manku band) — the
      // band key is the int itself (no substring), and the hamming verify
      // is 4 bit_count(xor) ops per pair instead of the r3 shape's 64
      // substring compares (the bench's slowest query at 16 s). Portable:
      // DuckDB casts '0x…' hex to BIGINT and has >>, xor(), bit_count().
      // the whole per-doc vote-and-pack in ONE native pass
      // (graft.functions.SimHashSig; bit-identical to the former
      // explode + md5-per-word + 64 vote sums — TextSketchSpec). This is
      // a SCALE fix as much as a speed fix: the explode shape shuffled
      // one row per word OCCURRENCE through a corpus-wide groupBy; the
      // signature is now a narrow projection — zero extra shuffle.
      // Docs with no words return a null signature and are dropped, the
      // same absence the inner word-aggregation produced.
      val sigArr = graft.functions.TextSketch.simhashSigCol(normText(col("text")),
        xx = xxMode(s))
      // one row per doc; persisted so both sides of the bucket self-join
      // read it back instead of re-running the per-doc signatures
      val sig = Tables.t(s, d, "documents")
        .select(col("doc_id"), sigArr.as("sa"))
        .filter(col("sa").isNotNull)
        .select(col("doc_id") +: (0 until SimBands).map(j => col("sa")(j).as(s"s$j")): _*)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // Manku-style banding: 4 blocks of 16 bits; any pair within hamming 3
      // agrees on >=1 whole block, so the block-bucket join has full recall
      val sigRefs = (0 until SimBands).map(j => col(s"s$j"))
      val bandArr = array((0 until SimBands).map { j =>
        struct(lit(j).as("band"), col(s"s$j").as("bkey"))
      }: _*)
      val bands = sig.select((col("doc_id") +: sigRefs :+ explode(bandArr).as("bs")): _*)
        .select((col("doc_id") +: sigRefs :+ col("bs.band").as("band") :+ col("bs.bkey").as("bkey")): _*)
      val aCols = (0 until SimBands).map(j => col(s"x.s$j").as(s"sa$j"))
      val bCols = (0 until SimBands).map(j => col(s"y.s$j").as(s"sb$j"))
      val cand = bands.as("x")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select((col("x.doc_id").as("a") +: col("y.doc_id").as("b") +: (aCols ++ bCols)): _*)
        .distinct()
      val hd = (0 until SimBands).map(j =>
        bit_count(col(s"sa$j").bitwiseXOR(col(s"sb$j")))).reduce(_ + _)
      val out = cand.withColumn("hamming", hd.cast("long"))
        .filter(col("hamming") <= HamThreshold)
        .select("a", "b", "hamming")
        .orderBy("a", "b")
        .transform(Ckpt.eager) // output-sized; releases the sig cache below
      sig.unpersist()
      out
    },

    // -------------------- dedup clustering: connected components of pairs
    // ---------------- asymmetric near-dup: shingle CONTAINMENT (doc ⊂ doc)
    "q_llm_dedup_contain" -> { (s, d) =>
      // |A∩B|/|A| >= 0.9 — catches a document EMBEDDED in a larger one,
      // which symmetric Jaccard detectors structurally miss (A ⊂ B with
      // |A| << |B| has low Jaccard, so MinHash bands rarely collide).
      // Shape = posting-list join with document-frequency pruning (the
      // PPJoin family's core prune): explode the shingle-hash sets, drop
      // grams held by >MaxBucket docs (near-zero signal, O(df²) pairs),
      // count shared grams per doc pair in the SAME aggregation that
      // generates the pairs (no second gram join), then verify the ratio
      // against full set sizes. Deterministic, oracle-twinned; both
      // directions emitted. Intersections are counted over the df-pruned
      // postings on BOTH engines — the standard prune, stated in the twin.
      //
      // Density contract, MEASURED at sf10 (r17, VERDICT r16 tasks 1/7;
      // bench_archive/LSH_AUDIT_r17_sf10.json + PAIRCOUNT_r17_sf1_sf10
      // .json, SCALE.md §6.21): the sf10 generator's 100-variant
      // clusters put the dense gram buckets AT (not under-and-evading)
      // the cap — max posting 400 docs, 12,653 postings over cap
      // dropping 2.59 M entries, candidates kept 1.162 B of 1.431 B
      // uncapped (−19%), inside the entries·(cap−1)/2 = 1.314 B bound.
      // TRUE output is 42.9 M pairs vs 473 K at sf1 — 90.7× the output
      // for 10× the docs (C(100,2)/C(10,2) = 110× per cluster), so the
      // sf10 wall_x 33.2 is OUTPUT-sized, sub-linear per candidate and
      // per emitted pair. On a corpus without variant factories the
      // output is linear-ish and the cap bounds the worst bucket at
      // O(cap²) pairs — the 100 TB posture is the cap, not the wall of
      // this adversarial fixture.
      val sh = shinglesDF(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val out = containPairs(sh, MaxBucket)
        .orderBy("contained", "container")
        .transform(Ckpt.eager) // output-sized; releases the shingle cache
      sh.unpersist()
      out
    },

    "q_llm_dedup_cluster" -> { (s, d) =>
      // a real pipeline needs duplicate CLUSTERS (keep one doc per
      // component), not just pairs: connected components over the
      // near-dup pair list. See [[ccLabels]] for the strategy (and the
      // two measured alternatives it beat).
      val pairs = minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold,
          ordered = false)
        .select("a", "b")
      // ccLabels returns a checkpointed, output-sized result — only the
      // final (tiny) sort re-executes per downstream action
      ccLabels(s, pairs)
        .select(col("doc_id"), col("label").as("cluster_id"))
        .orderBy("doc_id")
    },

    // ----------- semantic-duplicate clusters: CC over embedding pairs
    "q_llm_dedup_embcluster" -> { (s, d) =>
      // the embedding-side mirror of q_llm_dedup_cluster: a pipeline
      // keeps one doc per SEMANTIC cluster, so the cosine near-dup pairs
      // feed the same size-dispatched connected-components labeler
      // ([[ccLabels]]) — edge source changes, scale posture doesn't
      val pairs = embCosPairs(Tables.t(s, d, "embeddings"),
        nTables = 1, nPlanes = NumPlanes, maxBucket = 0, thr = CosThreshold)
        .select("a", "b")
      ccLabels(s, pairs)
        .select(col("doc_id").as("vec_id"), col("label").as("cluster_id"))
        .orderBy("vec_id")
    },

    // -------------------------- near-dup: embedding cosine in LSH buckets
    "q_llm_dedup_embcos" -> { (s, d) =>
      // banded random-hyperplane LSH (see [[embCosPairs]]); this driver
      // row runs the 1-table × 8-plane oracle-default config, whose pair
      // set equals the oracle's bucket self-join exactly; the banded
      // [[EmbTables]]×[[EmbPlanesPerTable]] 100 TB config is the same
      // pipeline (EmbeddingLshSpec exercises it and measures recall)
      embCosPairs(Tables.t(s, d, "embeddings"),
        nTables = 1, nPlanes = NumPlanes, maxBucket = 0, thr = CosThreshold)
    },

    "q_llm_dedup_embcos_banded" -> { (s, d) =>
      // the RECOMMENDED 100 TB config as a driver-checked oracle row (r7
      // verdict #4): [[EmbTables]]×[[EmbPlanesPerTable]] banded tables
      // WITH the bucket cap — the exact pipeline EmbeddingLshSpec
      // measures recall on, now hash-compared against a DuckDB twin
      // stated as a UNION over the T per-table bucket self-joins
      embCosPairs(Tables.t(s, d, "embeddings"),
        nTables = EmbTables, nPlanes = EmbPlanesPerTable,
        maxBucket = EmbMaxBucket, thr = CosThreshold)
    },

    // ------------------------------------- top-k similarity (brute force)
    "q_llm_simsearch_topk" -> { (s, d) =>
      val emb = Tables.t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val scored = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id"),
          (dot(col("embedding"), col("qe")) /
            (sqrt(dot(col("embedding"), col("embedding"))) *
             sqrt(dot(col("qe"), col("qe"))))).as("cos"))
      // round-then-rank: selection depends only on the 4-decimal score, so
      // the top-k set is stable under last-ulp float jitter
      scored.select(col("vec_id"), round(col("cos"), 4).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(10)
    },

    // ------------------------- top-k similarity (LSH-bucketed scale path)
    "q_llm_simsearch_ann" -> { (s, d) =>
      // bucket filter prunes the corpus before any scoring (~1/256 for
      // the oracle-default single table; recall tunable via more tables
      // at the same pruning granularity — see [[annTopK]])
      annTopK(Tables.t(s, d, "embeddings"), queryVecId = 0, k = 10,
        nTables = 1, nPlanes = NumPlanes)
    },

    // ------------------------- top-k similarity (IVF coarse-quantizer path)
    "q_llm_simsearch_ivf" -> { (s, d) =>
      // the OTHER standard ANN family (inverted-file): a K-centroid coarse
      // codebook partitions the corpus into inverted lists; a query probes
      // only the nprobe nearest lists. Build = one narrow corpus pass
      // against the BROADCAST codebook with a partial-agg'd argmax (max of
      // a (cos, -cid) struct — never a window, so assignment map-side
      // combines); search scans ~nprobe/K of the corpus. Centroids here
      // are deterministic seed vectors (the K lowest vec_ids) so the
      // DuckDB twin is exact; a production build would Lloyd-iterate the
      // codebook — each iteration is this same assign shape plus a
      // per-cid average, no new plan shapes.
      val v = ivfVecs(Tables.t(s, d, "embeddings"))
      val cents = ivfSeed(v, 16)
      ivfSearch(ivfAssign(v, cents), cents, v, queryVecId = 0, nprobe = 4, k = 10)
    },

    // --------------- IVF with a trained codebook (one Lloyd iteration)
    "q_llm_simsearch_ivf_lloyd" -> { (s, d) =>
      // the production IVF build realism the seed-codebook row lacks (r7
      // verdict #5): assign → per-cid mean → re-assign. Both steps are
      // the SAME plan shapes as the base row (broadcast codebook +
      // partial-agg argmax; the mean is a K×Dim-row aggregate), and the
      // 6-decimal centroid rounding keeps the DuckDB twin exact.
      // IvfLloydSpec measures the tightening (mean intra-cluster cosine
      // rises vs the seed codebook).
      val v = ivfVecs(Tables.t(s, d, "embeddings"))
      val c1 = ivfMeanCentroids(ivfAssign(v, ivfSeed(v, 16)))
      ivfSearch(ivfAssign(v, c1), c1, v, queryVecId = 0, nprobe = 4, k = 10)
    },

    // --------------- product quantization: the ANN storage/scan format
    "q_llm_embed_pq" -> { (s, d) =>
      // PQ codes + reconstruction audit — the other half of the ANN
      // storage story next to int8 quantization: each vector becomes M=8
      // 4-bit codes (64× smaller than float32), the format IVF-PQ
      // engines scan. Shape: explode each vector into its M subvectors
      // (map-only), join the BROADCAST M×K codebook, argmin L2² per
      // (vector, subspace) INSIDE the aggregate (min of a (dist, code)
      // struct — partial-agg'd map-side, never a window), then per-vector
      // code assembly. dist = ⟨x,x⟩ - 2⟨x,c⟩ + ⟨c,c⟩ with every dot a
      // fixed-order sequential fold, so both engines compute identical
      // doubles and the argmin is deterministic (ties break on code).
      val emb = Tables.t(s, d, "embeddings")
      val cb = pqCodebook(emb)
      val subs = emb
        .select(col("vec_id"),
          explode(sequence(lit(0), lit(PqM - 1))).as("m"), col("embedding"))
        .select(col("vec_id"), col("m"), pqSub(col("embedding"), col("m")).as("x"))
        .withColumn("xx", dot(col("x"), col("x")))
      subs.join(broadcast(cb), "m")
        .select(col("vec_id"), col("m"), col("code"),
          (col("xx") - lit(2.0) * dot(col("x"), col("cvec")) + col("cc")).as("dist"))
        .groupBy("vec_id", "m")
        .agg(min(struct(col("dist"), col("code"))).as("best"))
        .groupBy("vec_id")
        .agg(
          array_join(transform(
            array_sort(collect_list(struct(col("m"), col("best.code").as("c")))),
            e => e("c").cast(StringType)), ",").as("codes"),
          round(sum(col("best.dist")) / Dim, 4).as("mse"))
        .orderBy("vec_id")
    },

    // -------------- chunk-level dedup: vector-store ingest hygiene
    "q_llm_chunk_dedup" -> { (s, d) =>
      // a RAG index should store each distinct chunk ONCE: chunks (the
      // q_llm_chunk windows) dedup by content digest, with the canonical
      // copy at the smallest (doc_id, chunk_id). Per doc: how many of
      // its chunks it owns vs. points elsewhere — the dedup ledger an
      // ingest job writes. Shape: one digest-keyed argmin aggregate
      // (map-side combined, distinct-digest-sized output) joined back on
      // the fixed-width digest; work O(corpus chunks), never chunks².
      val n = size(col("ws"))
      val chunk = slice(col("ws"), col("i") * ChunkS + 1, lit(ChunkW))
      val chunks = Tables.t(s, d, "documents")
        .select(col("doc_id"), split(normText(col("text")), " ").as("ws"))
        .filter(n >= 1)
        .select(col("doc_id"),
          explode(sequence(lit(0L), floor((n - 1).cast(DoubleType) / ChunkS)
            .cast(LongType))).as("i"), col("ws"))
        .select(col("doc_id"), col("i").as("chunk_id"),
          substring(md5(concat_ws(" ", chunk)), 1, 16).as("digest"))
      // r19 opt: canonical chunk via ONE window-min over the digest
      // partition instead of groupBy + join-back on the digest string —
      // one exchange instead of two, and the chunk-explode subtree runs
      // once instead of twice. Same (doc_id, chunk_id) struct argmin.
      val wDg = Window.partitionBy("digest")
      chunks
        .withColumn("m", min(struct(col("doc_id"), col("chunk_id"))).over(wDg))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("doc_id") === col("m.doc_id") &&
            col("chunk_id") === col("m.chunk_id"), 1L).otherwise(0L)).as("n_owned"))
        .select(col("doc_id"), col("n_chunks"), col("n_owned"),
          (col("n_chunks") - col("n_owned")).as("n_deduped"))
        .orderBy("doc_id")
    },

    // ------------------- the corpus report card (the first query a data
    // engineer runs against a new dump)
    "q_llm_corpus_stats" -> { (s, d) =>
      // one row summarizing the corpus: doc/source/language counts,
      // exact token total and vocabulary size, length spread, and the
      // exact-duplicate rate. Two passes: a per-row metadata aggregate
      // (map-side combined) and one word-level distinct for the
      // vocabulary (the honest cost of an EXACT vocab count — the
      // approx_count_distinct one-pass variant is what the tfidf gate
      // uses; both shapes ship).
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          normText(col("text")).as("nt"))
        .withColumn("tok", size(split(col("nt"), " ")).cast(LongType))
      val meta = docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("tok")).as("total_tokens"),
        min(col("tok")).as("min_tokens"),
        max(col("tok")).as("max_tokens"),
        countDistinct(substring(md5(col("nt")), 1, 16)).as("n_distinct_texts"))
      val vocab = docs
        .select(explode(split(col("nt"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .agg(countDistinct(col("w")).as("vocab_size"))
      meta.crossJoin(vocab)
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_tokens"), col("min_tokens"), col("max_tokens"),
          col("vocab_size"),
          round((col("n_docs") - col("n_distinct_texts")).cast(DoubleType) /
            col("n_docs"), 4).as("exact_dup_rate"))
    },

    // ------------- the composed curation pipeline, end to end (one row
    // proving the operators CHAIN the way a real corpus build runs them)
    "q_llm_pipeline_e2e" -> { (s, d) =>
      // quality gate -> exact dedup -> near-dup keep-best -> 80/10/10
      // split -> per-split yield. Every stage is the same machinery its
      // standalone row ships (TextStatsRaw gate, md5-prefix exact keys,
      // corpus MinHash pairs restricted to survivors, ccLabels + argmax
      // canonical, hash-bucket split), so the chain inherits each
      // stage's scale shape: per-row gates, one hash shuffle, pair work
      // bounded by the band structure, output-sized cluster joins,
      // pure-hash split — nothing new materializes corpus² anywhere.
      val ts = graft.functions.TextSketch.textStatsRawCol(
        col("text"), Stopwords.take(5))
      val nWords = col("ts.n_words")
      val stopRatio = col("ts.stop_cnt").cast(DoubleType) / nWords
      val punctRatio = (col("ts.norm_len") - col("ts.alnum_len"))
        .cast(DoubleType) / col("ts.norm_len")
      val kept0 = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          normText(col("text")).as("nt"), ts.as("ts"))
        .filter(nWords >= 20 && nWords <= 50000 &&
          stopRatio > 0.01 && punctRatio < 0.3)
        .select("doc_id", "n_chars", "nt")
      // r19 opt (guide §2.4): the exact-dedup keep was a groupBy(min) +
      // join-back (2 exchanges) whose kept1 result was then referenced
      // FOUR times downstream (pair restriction a/b, label join, final
      // keep) — the unpersisted subtree re-ran the corpus scan + quality
      // gate each time. Now one window-min over the exact-hash partition
      // picks the SAME keeper set in one exchange, and the survivor-sized
      // kept1 is eagerly localCheckpoint'd (the ccLabels convention) so
      // every consumer reads cached blocks instead of re-scanning.
      val wNh = org.apache.spark.sql.expressions.Window
        .partitionBy(substring(md5(col("nt")), 1, 16))
      val kept1 = kept0
        .withColumn("min_id", min(col("doc_id")).over(wNh))
        .filter(col("doc_id") === col("min_id"))
        .select("doc_id", "n_chars")
        .transform(Ckpt.eager)
      val pairs = minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold,
        ordered = false).select("a", "b")
      val sp = pairs
        .join(kept1.select(col("doc_id").as("a")), "a")
        .join(kept1.select(col("doc_id").as("b")), "b")
      val lab = ccLabels(s, sp.select("a", "b"))
        .join(kept1, "doc_id")
      // r19 opt: canonical verdict via ONE window over the label
      // partition instead of a groupBy + two left join-backs — same
      // (n_chars, -doc_id) argmax, same keep set, 2 fewer exchanges.
      val wLab = org.apache.spark.sql.expressions.Window.partitionBy("label")
      val verdicts = lab
        .withColumn("m",
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).over(wLab))
        .select(col("doc_id"), lit(1L).as("in_cluster"),
          (col("doc_id") === -col("m.nid")).cast(LongType).as("is_canon"))
      val finalKeep = kept1
        .join(verdicts, Seq("doc_id"), "left")
        .filter(col("in_cluster").isNull || col("is_canon") === 1L)
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 100
      finalKeep.select(col("doc_id"), col("n_chars"), bucket.as("b"))
        .withColumn("split",
          when(col("b") < 80, "train").when(col("b") < 90, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars_total"),
          min("doc_id").as("first_doc"))
        .orderBy("split")
    },

    // ----------------- train/val/test split: deterministic hash bucketing
    "q_llm_split" -> { (s, d) =>
      // split assignment must be a pure function of the doc key (stable
      // across runs/engines/cluster sizes): bucket = 32-bit md5 prefix of
      // the id mod 100 -> 80/10/10. No rand(), no row_number.
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 100
      Tables.t(s, d, "documents")
        .select(col("doc_id"), bucket.as("bucket"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .groupBy("split").agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("first_doc"))
        .orderBy("split")
    },

    // ---------- leakage-free split: near-dup clusters stay in ONE split
    "q_llm_split_leakfree" -> { (s, d) =>
      // hash-splitting by doc key leaks evaluation data: two near-dup
      // docs can land in train AND test, and the model is then scored on
      // (a clone of) its own training data. The leak-free split hashes
      // the CLUSTER representative instead — every member of a near-dup
      // cluster (connected components over the verified MinHash pairs,
      // the same [[ccLabels]] pipeline) shares a split key, unclustered
      // docs hash their own id. Same 80/10/10 arithmetic as q_llm_split;
      // the label join is output-sized (clustered docs only).
      val labels = ccLabels(s,
        minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold,
          ordered = false).select("a", "b"))
      val keyed = Tables.t(s, d, "documents").select(col("doc_id"))
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("label"), col("doc_id")).as("split_key"))
      val bucket = conv(substring(md5(col("split_key").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 100
      keyed
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy("doc_id")
    },

    // --------------- weighted per-source sampling (domain mixing weights)
    "q_llm_sample_weighted" -> { (s, d) =>
      // keep rate per source: the same deterministic bucket compared to a
      // per-source threshold — the standard reproducible downsample
      val docs = Tables.t(s, d, "documents")
      val bucket = conv(substring(md5(col("doc_id").cast(StringType)), 1, 8), 16, 10)
        .cast(LongType) % 100
      val rates = s.createDataFrame(
        Seq(("src0", 100L), ("src1", 50L), ("src2", 25L))
          .map { case (n, p) => org.apache.spark.sql.Row(n, p) }.asJava,
        StructType(Seq(StructField("source", StringType, false),
          StructField("keep_pct", LongType, false))))
      docs.join(broadcast(rates), Seq("source"), "left")
        .filter(bucket < coalesce(col("keep_pct"), lit(10L)))
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .orderBy("source")
    },

    // ----------- deterministic training-order shuffle (shard + position)
    "q_llm_shuffle_shard" -> { (s, d) =>
      // a training run needs the corpus in a pseudorandom order that is
      // STABLE across runs, engines, and cluster sizes (resumable
      // dataloaders, reproducible curricula). rand() is none of those.
      // Order key = md5 of the doc key; shard = key-hash mod S (S becomes
      // the output-file count at scale — O(100k) at 100 TB); position =
      // row_number within the shard ordered by the hex key. The window
      // partitions BY SHARD, so ordering work parallelizes across shards
      // and no global sort ever happens — the scale contract.
      val hex = md5(col("doc_id").cast(StringType))
      val shard = (conv(substring(hex, 1, 8), 16, 10).cast(LongType) % 8).as("shard")
      Tables.t(s, d, "documents")
        .select(col("doc_id"), shard, hex.as("hx"))
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("hx"), col("doc_id"))))
        .select(col("shard"), col("pos"), col("doc_id"))
        .orderBy("shard", "pos")
    },

    // --------------- sequence packing: bin docs into fixed token budgets
    "q_llm_pack_bins" -> { (s, d) =>
      // pretraining packs documents into fixed-length token windows; the
      // sequential greedy packer is a driver-side loop — unusable at
      // corpus scale. The scalable equivalent: shard by key-hash, order
      // within the shard by the same stable hash, then bin by the RUNNING
      // token count (bin = floor((cumsum - tokens) / budget)) — a window
      // cumsum PARTITIONED BY SHARD, so packing parallelizes and no
      // global sort/loop exists. Fill efficiency loses only the per-bin
      // tail fragmentation vs. the sequential packer (bounded by
      // max_doc_tokens / budget), which is the accepted trade at scale.
      val budget = 512
      val hex = md5(col("doc_id").cast(StringType))
      val shard = (conv(substring(hex, 1, 8), 16, 10).cast(LongType) % 8).as("shard")
      val toks = size(split(normText(col("text")), " ")).cast(LongType).as("tokens")
      val w = Window.partitionBy("shard").orderBy(col("hx"), col("doc_id"))
      Tables.t(s, d, "documents")
        .select(col("doc_id"), shard, hex.as("hx"), toks)
        .withColumn("bin",
          floor((sum(col("tokens")).over(w) - col("tokens")) / budget))
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("tokens").as("bin_tokens"))
        .orderBy("shard", "bin")
    },

    // ------------- decontamination: n-gram overlap with a benchmark set
    "q_llm_decontam" -> { (s, d) =>
      // flag training docs sharing any word-8-gram with the "benchmark"
      // docs (ids 0-4 stand in for an eval set): inverted-index equi-join
      // on the gram, never a cross join — the standard decontamination
      // shape (e.g. GPT-3 appendix C) at corpus scale
      val n = 8
      // the index keys are 60-bit gram FINGERPRINTS (one native pass per
      // doc, graft.functions.HashedGrams), not gram strings: the equi-join
      // shuffles fixed-width longs instead of ~50-byte text, and the gram
      // strings are never materialized. The oracle joins the raw strings —
      // identical n_hits (hash is injective on the corpus; a 2^-60
      // collision would be caught as a CORRECTNESS diff).
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= n)
      val grams = docs.select(col("doc_id"),
        explode(graft.functions.TextSketch.hashedWordShinglesCol(col("nt"), n, xx = xxMode(s))).as("g"))
      val bench = grams.filter(col("doc_id") < 5)
        .select(col("g")).distinct()
      grams.filter(col("doc_id") >= 5)
        .join(bench, "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },

    // --------------------------- PII/number scrubbing: redact + account
    "q_llm_pii_scrub" -> { (s, d) =>
      // redaction must report what it removed (pipeline auditability):
      // digit runs -> <NUM>, email-shaped tokens -> <EMAIL>
      val norm = normText(col("text"))
      val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]+"
      val scrubbed = regexp_replace(regexp_replace(norm, emailRe, "<EMAIL>"),
        "[0-9]+", "<NUM>")
      // regex battery ABOVE the total ORDER BY (probe `sortproj`, see
      // QueriesFunctions): evaluated once instead of sampling+real pass,
      // and exchange-wide-parallel even over a 1-partition source
      Tables.t(s, d, "documents").orderBy("doc_id").select(
        col("doc_id"),
        size(regexp_extract_all(norm, lit("[0-9]+"), lit(0))).as("n_nums"),
        size(regexp_extract_all(norm, lit(emailRe), lit(0))).as("n_emails"),
        substring(md5(scrubbed), 1, 16).as("scrubbed_digest")
      )
    },

    // --------------- composite quality gate: the Gopher-style filter
    "q_llm_quality_filter" -> { (s, d) =>
      // keep/drop verdict per doc with the FIRST failed rule named
      // (pipeline auditability: a filter that only says "dropped" is
      // undebuggable at corpus scale); output = yield per verdict. The
      // ingredient battery is ONE native pass per row
      // (graft.functions.TextStatsRaw — bit-exact to the former 4-regex
      // + HOF chain, TextSketchSpec) + one shuffle — the 100 TB shape.
      val doc = Tables.t(s, d, "documents")
      val ts = graft.functions.TextSketch.textStatsRawCol(
        col("text"), Stopwords.take(5))
      val nWords = col("ts.n_words")
      val stopRatio = col("ts.stop_cnt").cast(DoubleType) / nWords
      val punctRatio = (col("ts.norm_len") - col("ts.alnum_len"))
        .cast(DoubleType) / col("ts.norm_len")
      val verdict = when(nWords < 20, "too_short")
        .when(nWords > 50000, "too_long")
        .when(stopRatio <= 0.01, "low_stopword")
        .when(punctRatio >= 0.3, "too_much_punct")
        .otherwise("keep")
      doc.select(col("doc_id"), ts.as("ts"))
        .select(col("doc_id"), verdict.as("verdict"))
        .groupBy("verdict")
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("first_doc"))
        .orderBy("verdict")
    },

    // ---------------- repetition ratio: the Gopher-style quality signal
    "q_llm_repetition" -> { (s, d) =>
      // fraction of a doc's word-3-grams taken by its single most repeated
      // gram — high values flag boilerplate/looping text. Non-distinct
      // grams (repetition is the point), one groupBy per level.
      val n = 3
      // per-doc top-gram/total counts in ONE native pass
      // (graft.functions.GramTopCount, counting by 60-bit fingerprint):
      // the former explode + groupBy(doc_id, gram) + groupBy(doc_id)
      // shuffled one row per gram OCCURRENCE corpus-wide, twice — a
      // per-document statistic needs no shuffle at all. Projection sits
      // above the total ORDER BY (probe `sortproj`).
      val tc = graft.functions.TextSketch.gramTopCountCol(col("nt"), n)
      Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= n)
        .orderBy("doc_id")
        .select(col("doc_id"),
          round(tc.getField("top").cast(DoubleType) /
            tc.getField("total").cast(DoubleType), 4).as("rep_ratio"),
          tc.getField("top").as("top_gram_cnt"))
    },

    // ----------------------------------------- text analysis: term freqs
    "q_llm_text_analysis" -> { (s, d) =>
      val stop = typedLit(Stopwords)
      Tables.t(s, d, "documents")
        .select(explode(split(normText(col("text")), " ")).as("word"))
        .filter(!array_contains(stop, col("word")) && length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(20)
    },

    // ----------------- per-doc text stats: tokens/quality/lang/fingerprint
    "q_llm_text_stats" -> { (s, d) =>
      // the whole ingredient battery (normalize / words / tokens /
      // stopwords / alnum / md5) is ONE native pass per row
      // (graft.functions.TextStatsRaw — bit-exact to the former chain,
      // TextSketchSpec); ratios and rounding stay declarative so
      // null/divide-by-zero semantics are byte-identical. Projection
      // above the total ORDER BY (probe `sortproj`).
      val doc = Tables.t(s, d, "documents")
      val ts = graft.functions.TextSketch.textStatsRawCol(
        col("text"), Stopwords.take(5))
      val nWords = col("ts.n_words")
      val stopCnt = col("ts.stop_cnt")
      val punctRatio = (col("ts.norm_len") - col("ts.alnum_len"))
        .cast(DoubleType) / col("ts.norm_len")
      doc.orderBy("doc_id").select(col("doc_id"), ts.as("ts")).select(
        col("doc_id"),
        nWords.as("n_words"),
        col("ts.n_tokens").as("n_tokens"),
        round(col("ts.total_len").cast(DoubleType) / nWords, 4).as("avg_word_len"),
        round(stopCnt.cast(DoubleType) / nWords, 4).as("stop_ratio"),
        when(stopCnt.cast(DoubleType) / nWords > 0.02, "en").otherwise("unk").as("lang_guess"),
        round(least(lit(1.0), nWords.cast(DoubleType) / 100) * (lit(1.0) - punctRatio), 4)
          .as("quality"),
        col("ts.fp").as("fingerprint")
      )
    },

    // ------------- winnowing fingerprints: rolling hash + window minima
    "q_llm_fingerprint_winnow" -> { (s, d) =>
      // robust copy-detection fingerprints (Schleimer et al., SIGMOD'03):
      // distinct w-window minima over the k-gram Karp-Rabin rolling-hash
      // sequence — any shared substring of >= w+k-1 chars shares a
      // fingerprint. One native pass per doc (monotonic deque, O(n),
      // graft.functions.WinnowFingerprints), zero shuffle; the per-doc
      // summary (count/sum/min/max over the fingerprint SET) is the
      // engine-parity checksum. The length filter mirrors the
      // expression's null condition exactly, so the winnow expression is
      // never duplicated into a predicate.
      val fps = graft.functions.TextSketch.winnowFingerprintsCol(
        col("nt"), WinnowK, WinnowW, WinnowB, HashP)
      Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .filter(length(col("nt")) >= WinnowK + WinnowW - 1)
        .orderBy("doc_id")
        .select(col("doc_id"),
          size(fps).cast(LongType).as("n_fps"),
          aggregate(fps, lit(0L), (a, x) => a + x).as("fp_sum"),
          array_min(fps).as("fp_min"),
          array_max(fps).as("fp_max"))
    },

    // -------------------------- multimodal: opaque binary + typed metadata
    "q_llm_multimodal_cols" -> { (s, d) =>
      // text stands in for an image payload: the SCHEMA pattern (binary
      // blob + struct metadata) is the real artifact; see MultimodalOps
      // for the partition-wise decode stub.
      val doc = Tables.t(s, d, "documents")
        .select(col("doc_id"),
          col("text").cast(BinaryType).as("payload"),
          struct(lit("text/plain").as("mime"), col("n_chars").as("n_chars")).as("meta"))
      doc.select(
        col("doc_id"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        col("meta.mime").as("mime"),
        col("meta.n_chars").as("n_chars")
      ).orderBy("doc_id")
    },

    // ------- multimodal frame sampling: partition-wise decoder flatMap
    "q_llm_multimodal_frames" -> { (s, d) =>
      // video-like payloads sampled every 4th frame through the
      // partition-wise decoder lifecycle (MultimodalOps.sampleFrames —
      // the flatMap row-explosion shape a clip-sampling pipeline needs,
      // one decoder per partition). The oracle reproduces the stub
      // container math (frames = bytes/8, stride ceil) from
      // octet_length alone, so the driver row checks the REAL pipeline
      // output, not a parallel reimplementation.
      val src = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
      graft.ops.MultimodalOps.sampleFrames(src, stride = 4)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_frames_sampled"),
          max(col("frame_ts_ms")).as("last_frame_ts_ms"))
        .orderBy("doc_id")
    },

    // ----------- multimodal resize planning: pure-projection dimensions
    "q_llm_multimodal_resize" -> { (s, d) =>
      // decode (partition-wise stub) -> aspect-preserving fit inside a
      // 32px box, integer-exact rational scale (MultimodalOps.resizePlan)
      // — zero shuffle below the ORDER BY; a real pipeline swaps the
      // dimension arithmetic for the codec's resample call
      val decoded = graft.ops.MultimodalOps.decodeDocuments(s, d)
      graft.ops.MultimodalOps.resizePlan(decoded, maxSide = 32)
        .select(col("doc_id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy("doc_id")
    },

    // --------------- copy detection: docs sharing winnowing fingerprints
    "q_llm_copy_detect" -> { (s, d) =>
      // Winnowing's guarantee (Schleimer et al., SIGMOD'03): any shared
      // substring of >= w+k-1 chars shares >= 1 fingerprint, so a pair
      // sharing MANY fingerprints shares long literal passages (copied
      // text) even when unique surrounding content dilutes whole-doc
      // Jaccard below every MinHash band's threshold. Shape = the same
      // posting-list join as containment: explode the per-doc fingerprint
      // SET (one native pass, zero extra shuffle), df-prune fingerprints
      // held by >MaxBucket docs (boilerplate hashes: no pair signal,
      // O(df²) cost) with buffers bounded inside the aggregate
      // ([[cappedIdLists]]), generate pairs in the aggregation that
      // counts them. Corpus-linear; candidates output-sized.
      copyDetectPairs(s, d, MaxBucket).orderBy("a", "b")
    },

    // ------------- decontamination with a broadcast Bloom-filter prefilter
    "q_llm_decontam_bloom" -> { (s, d) =>
      // the 100 TB shape of [[q_llm_decontam]]: the benchmark set is tiny
      // by construction (an eval suite is ~10^6 grams — a ~2 MB bloom at
      // 10 bits/item), so build the bloom ONCE and prefilter the
      // corpus-sized training gram stream MAP-SIDE: ≥99% of grams
      // never reach the shuffle, which shrinks the decontam join's
      // exchange by the same factor. False positives are harmless — the
      // exact equi-join below re-verifies every survivor — so the result
      // is bit-identical to q_llm_decontam and shares its oracle.
      // r16 (VERDICT task 4): the probe was the repo's one hot-path Scala
      // UDF; it is now Spark's native BloomFilterAggregate (distributed
      // partial-aggregated build; one 1-row driver fetch of the sketch,
      // metadata-plane) + BloomFilterMightContain over a BINARY literal —
      // codegen-able, so the prefilter stays inside whole-stage codegen.
      val n = 8
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= n)
      val grams = docs.select(col("doc_id"),
        explode(graft.functions.TextSketch.hashedWordShinglesCol(col("nt"), n, xx = xxMode(s))).as("g"))
      val bench = grams.filter(col("doc_id") < 5)
        .select(col("g")).distinct()
      // same filter power as the old (items=100000, fpp=0.001) build
      val numBits = org.apache.spark.util.sketch.BloomFilter.create(100000L, 0.001).bitSize()
      val bfBytes = bench.agg(ColumnBridge.column(
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          ColumnBridge.expression(col("g")),
          org.apache.spark.sql.catalyst.expressions.Literal(100000L),
          org.apache.spark.sql.catalyst.expressions.Literal(numBits))
          .toAggregateExpression()).as("bf"))
        .head().getAs[Array[Byte]](0)
      val mightContain = ColumnBridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          org.apache.spark.sql.catalyst.expressions.Literal(bfBytes,
            org.apache.spark.sql.types.BinaryType),
          ColumnBridge.expression(col("g"))))
      grams.filter(col("doc_id") >= 5)
        .filter(mightContain)
        .join(bench, "g")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
        .orderBy("doc_id")
    },

    // ---------------- language ID: marker-n-gram scoring, zero shuffle
    "q_llm_langid" -> { (s, d) =>
      // deterministic marker-trigram language ID: per-language marker
      // counts via length arithmetic (no explode — counting substring
      // occurrences needs no token stream), argmax with a fixed
      // tie-break order. Every marker is the same length, so raw
      // length-differences compare without division. Per-row expressions
      // only → zero shuffle below the confusion-matrix aggregation; the
      // real-pipeline upgrade path is the same expression over a larger
      // profile table, still per-row. Output = confusion counts vs the
      // `lang` metadata column (pipeline auditability).
      val p = concat(lit(" "), normText(col("text")), lit(" "))
      def score(ms: Seq[String]): Column =
        ms.map(m => length(p) - length(call_function("replace", p, lit(m), lit(""))))
          .reduce(_ + _)
      val scored = Tables.t(s, d, "documents").select(
        col("lang"),
        score(LangMarkers("en")).as("s_en"), score(LangMarkers("de")).as("s_de"),
        score(LangMarkers("es")).as("s_es"), score(LangMarkers("fr")).as("s_fr"))
      scored.select(col("lang"),
        when(col("s_en") === 0 && col("s_de") === 0 &&
             col("s_es") === 0 && col("s_fr") === 0, "unk")
          .when(col("s_en") >= col("s_de") && col("s_en") >= col("s_es") &&
                col("s_en") >= col("s_fr"), "en")
          .when(col("s_de") >= col("s_es") && col("s_de") >= col("s_fr"), "de")
          .when(col("s_es") >= col("s_fr"), "es")
          .otherwise("fr").as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred")
    },

    // ----------------------- TF-IDF keyword extraction (top-3 per doc)
    "q_llm_tfidf" -> { (s, d) =>
      // per-doc salient terms: tf over the doc, document frequency over
      // the corpus, score = tf/df (monotone in tf·idf at fixed N, and —
      // unlike ln() — IEEE-exact division that both engines compute
      // bit-identically). df is vocabulary-sized: Heaps' law estimates
      // ~10^7 terms (≈100 MB, broadcastable) but a real 100 TB web
      // corpus's term set (URLs, typos, code tokens) can land 10^8-10^9 —
      // past any broadcast — and hapax terms CANNOT be df-pruned (df=1
      // ranks FIRST under tf/df). So the join shape is MEASURED, not
      // assumed (r8 verdict item 4): a one-pass approx vocabulary count
      // gates the hint; over the threshold the join degrades to a plain
      // shuffle join instead of OOMing the driver. The top-k window
      // partitions by doc — no skew, no global sort.
      val stop = typedLit(Stopwords)
      val words = Tables.t(s, d, "documents")
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("word"))
        .filter(!array_contains(stop, col("word")) && length(col("word")) > 0)
      val tf = words.groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      val dft = tf.groupBy("word").agg(count(lit(1)).as("df"))
      val vocabApprox = vocabApproxFor(s, d, "tfidf", words)
      val dftJoinSide =
        if (vocabApprox <= TfidfBroadcastMaxTerms) broadcast(dft) else dft
      tf.filter(col("doc_id") < 20)
        .join(dftJoinSide, "word")
        .withColumn("score", col("tf").cast(DoubleType) / col("df"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score").desc, col("word").asc)))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("word"),
          round(col("score"), 6).as("score"))
        .orderBy("doc_id", "rnk")
    },

    // ------------- boilerplate ratio: corpus-common n-grams per document
    "q_llm_boilerplate" -> { (s, d) =>
      // RefinedWeb/C4-style template detection at the corpus level: the
      // fraction of a doc's DISTINCT word-5-grams that appear in more
      // than [[BoilerplateDf]] documents — high values flag templated/
      // mirrored text that per-document quality signals cannot see.
      // Shape: one distinct-gram explode (native per-doc hash pass), a
      // document-frequency aggregate (map-side combined, vocabulary-
      // sized output), joined back on fixed-width gram hashes. Work is
      // O(corpus grams), never corpus²; the oracle joins the raw gram
      // strings — identical counts (60-bit hash, injective on any real
      // corpus; a collision would surface as a CORRECTNESS diff).
      val n = 5
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), normText(col("text")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= n)
      // hashedWordShinglesCol already returns the DISTINCT hash set per
      // doc (HashSet dedup inside the native pass) — no array_distinct
      val grams = docs.select(col("doc_id"),
        explode(graft.functions.TextSketch.hashedWordShinglesCol(col("nt"), n, xx = xxMode(s))).as("g"))
      // r20 opt (guide §2.5, VERDICT r19 item 3): the r19 window-df
      // spelling (`count over (partition by g)`) shuffled the FULL gram
      // stream by a key that is hot BY DESIGN — boilerplate grams are
      // exactly the ones with df > threshold — and WindowExec buffers
      // each key's whole partition and is excluded from AQE skew
      // splitting, so at corpus scale a viral gram serializes its entire
      // row set onto ONE task (SkewProbe measured the bound; SCALE.md
      // §r20). Two-level count instead: the df aggregate is map-side
      // combined (a viral gram crosses the exchange as ≤ one partial
      // count per map task, never as its row set), only the >threshold
      // survivors — the COMMON-gram table, ≤ total_grams/threshold rows
      // by construction — join back, and AQE sizes that table at runtime:
      // small → BroadcastHashJoin (gram stream never exchanged for the
      // join), pathological → shuffle join, which unlike a window is
      // AQE-skew-splittable. Cost: the gram explode is planned on both
      // sides again (one extra native hash pass) — measured cheaper than
      // the window's full-stream exchange + buffer at sf0.1 and the only
      // skew-safe shape at 100 TB. Per-gram df identical (one grams row
      // per (doc, distinct gram) either way) — R20OptShapeSpec pins
      // set-equality against the r19 window spelling incl. a viral gram.
      val common = grams.groupBy("g").agg(count(lit(1)).as("df"))
        .filter(col("df") > BoilerplateDf)
        .select(col("g"), lit(1L).as("hit"))
      grams.join(common, Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(coalesce(col("hit"), lit(0L))).as("n_common"))
        .select(col("doc_id"), col("n_grams"), col("n_common"),
          round(col("n_common").cast(DoubleType) / col("n_grams"), 4).as("boiler_ratio"))
        .orderBy("doc_id")
    },

    // ------------- embedding quantization: int8 storage for vector lakes
    "q_llm_embed_quantize" -> { (s, d) =>
      // symmetric per-vector int8 quantization (scale = max|x|/127) with
      // the reconstruction-error audit a storage migration needs — the
      // standard 4x footprint cut for a 100 TB embedding corpus. Pure
      // per-row sequential folds (engine-portable), zero shuffle below
      // the mandated ORDER BY; rounding is floor(x/s + 0.5), identical
      // on both engines (round()'s half-case tie rules are not).
      val absmax = aggregate(col("embedding"), lit(0.0),
        (a, x) => greatest(a, abs(x.cast(DoubleType))))
      val err = aggregate(col("embedding"), lit(0.0), (a, x) => {
        val xd = x.cast(DoubleType)
        val q = floor(xd / col("scale") + lit(0.5))
        greatest(a, abs(xd - q * col("scale")))
      })
      Tables.t(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          greatest(absmax / 127.0, lit(1e-30)).as("scale"))
        .orderBy("vec_id")
        .select(col("vec_id"), col("label"),
          round(col("scale"), 6).as("quant_scale"),
          round(err, 6).as("max_abs_err"))
    },

    // --------------- stratified sampling: deterministic top-n per stratum
    "q_llm_sample_stratified" -> { (s, d) =>
      // exactly n docs per (lang, source) stratum, chosen by md5-hash
      // rank — the reproducible equivalent of per-stratum reservoir
      // sampling (same keep-set on every run and every engine). The
      // top-n lives INSIDE the aggregate ([[graft.functions.BoundedTopK]]
      // (hash, id) pairs, buffer ≤ n by construction — partial top-n
      // map-side, merged top-n reduce-side), so a billion-row stratum
      // costs one partial-agg shuffle of n rows per stratum, never a
      // per-stratum sort: the window-function spelling the oracle states
      // would sort every stratum end-to-end just to keep 3 rows.
      val hx = md5(col("doc_id").cast(StringType))
      Tables.t(s, d, "documents")
        .select(col("lang"), col("source"), col("doc_id"), hx.as("hx"))
        .groupBy("lang", "source")
        .agg(graft.functions.BoundedCollect.boundedTopKCol(
          col("hx"), col("doc_id"), StratumN).as("picked_ids"))
        .select(col("lang"), col("source"),
          size(col("picked_ids")).cast(LongType).as("n_sampled"),
          array_join(transform(array_sort(col("picked_ids")),
            x => x.cast(StringType)), ",").as("picked"))
        .orderBy("lang", "source")
    },

    // -------------- unigram-LM familiarity scoring (CCNet-style filter)
    "q_llm_unigram_lm" -> { (s, d) =>
      // CCNet/KenLM-style corpus-LM document scoring: per doc, the mean
      // corpus frequency of its tokens — rare-token-heavy docs (OCR
      // noise, codes, mangled text) score low and filter out. The log
      // the LM formulation would take is swapped for the rational mean
      // (monotone ranking-equivalent per-token; one IEEE division at the
      // end keeps the twin bit-exact where sum-of-log10 would drift by
      // ulps between engines). Unlike tfidf, stopwords stay — an LM
      // counts everything. The corpus-frequency table is vocabulary-
      // sized: the broadcast is gated on a MEASURED approx vocab count
      // (same rationale as tfidf — a 100 TB web corpus's term set can
      // land 10^8-10^9, past any broadcast, and the join degrades to a
      // plain shuffle join instead of OOMing the driver).
      val words = Tables.t(s, d, "documents")
        .select(col("doc_id"), explode(split(normText(col("text")), " ")).as("word"))
        .filter(length(col("word")) > 0)
      val cf = words.groupBy("word").agg(count(lit(1)).as("cf"))
      val vocabApprox = vocabApproxFor(s, d, "unigram", words)
      val cfJoinSide =
        if (vocabApprox <= TfidfBroadcastMaxTerms) broadcast(cf) else cf
      words.join(cfJoinSide, "word")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          round(sum(col("cf")).cast(DoubleType) / count(lit(1)), 4).as("avg_freq"),
          min(col("cf")).as("min_freq"))
        .orderBy("doc_id")
    },

    // ------------- source-overlap matrix: which crawls mirror each other
    "q_llm_source_overlap" -> { (s, d) =>
      // corpus diagnostic: for every source pair, how many distinct
      // word-5-gram shingles they share — mirrored crawls / syndicated
      // content light up before any doc-level dedup runs. Shape: distinct
      // (source, gram-hash) pairs (the per-doc native hash pass, then one
      // distinct), grouped by gram into a sorted source set whose
      // aggregation buffer is bounded by the SOURCE COUNT (0(100s-1000s)
      // at any real corpus — never corpus-sized), pair-unnested, counted.
      // Work is O(distinct grams x sources sharing them), never corpus².
      // The oracle joins raw gram strings — identical counts (60-bit
      // hash, injective on any real corpus).
      val docs = Tables.t(s, d, "documents")
        .select(col("source"), normText(col("text")).as("nt"))
        .filter(size(split(col("nt"), " ")) >= ShingleWords)
      // r19 opt: the former .distinct() before the per-gram set aggregate
      // was a redundant full exchange — collect_set dedups (map-side too),
      // so grouping the raw (source, gram) stream produces the identical
      // source set per gram with one exchange instead of two.
      val srcGrams = docs.select(col("source"),
        explode(graft.functions.TextSketch.hashedWordShinglesCol(
          col("nt"), ShingleWords, xx = xxMode(s))).as("g"))
      srcGrams.groupBy("g")
        .agg(sort_array(collect_set(col("source"))).as("ss"))
        .filter(size(col("ss")) >= 2)
        .select(pairsExplode(col("ss")).as("p"))
        .groupBy(col("p.a").as("src_a"), col("p.b").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy("src_a", "src_b")
    },

    // ------------ corpus top-k n-grams per language (vocab/tokenizer QA)
    "q_llm_ngram_topk" -> { (s, d) =>
      // tokenizer/vocabulary design wants the highest-frequency word
      // bigrams per language. The per-(lang, gram) count is the first
      // aggregate; the per-lang top-k then lives INSIDE a second
      // aggregate ([[graft.functions.BoundedTopKStrings]], buffer <= k by
      // construction) — a 10^8-term vocabulary per language costs one
      // partial-agg shuffle of <= k rows per (partition, lang), never the
      // per-lang end-to-end vocabulary sort a row_number() window plans.
      // The rank key is an ASCII-sortable encoding of (count desc, gram
      // asc): zero-padded (10^12 - count) ++ ' ' ++ gram, so JVM order,
      // UTF8String binary order, and DuckDB collation agree; count and
      // gram parse back out of the key after the explode.
      val docs = Tables.t(s, d, "documents")
        .select(col("lang"), split(normText(col("text")), " ").as("ws"))
        .filter(size(col("ws")) >= 2)
      val grams = docs.select(col("lang"),
        explode(transform(sequence(lit(1), size(col("ws")) - 1), i =>
          concat(element_at(col("ws"), i), lit(" "),
            element_at(col("ws"), i + 1)))).as("g"))
      val counted = grams.groupBy("lang", "g").agg(count(lit(1)).as("cnt"))
      val rankKey = concat(
        lpad((lit(1000000000000L) - col("cnt")).cast(StringType), 13, "0"),
        lit(" "), col("g"))
      counted.groupBy("lang")
        .agg(graft.functions.BoundedCollect
          .boundedTopKStringsCol(rankKey, rankKey, NgramTopK).as("ks"))
        .select(col("lang"), posexplode(array_sort(col("ks"))))
        .select(col("lang"), (col("pos") + 1).cast(LongType).as("rnk"),
          substring(col("col"), 15, 1000000).as("gram"),
          (lit(1000000000000L) - substring(col("col"), 1, 13).cast(LongType)).as("cnt"))
        .orderBy("lang", "rnk")
    },

    // ------------- canonical keep-best selection over near-dup clusters
    "q_llm_dedup_keep_best" -> { (s, d) =>
      // the materialization step of dedup: per near-duplicate CLUSTER
      // (connected components over the MinHash pair list — the same
      // [[ccLabels]] pipeline q_llm_dedup_cluster ships), keep the
      // highest-quality member (longest by n_chars, tie-break min
      // doc_id) and emit every clustered doc's verdict. Shape: cluster
      // labels joined to doc metadata, canonical picked by an argmax
      // AGGREGATE (max of a (n_chars, -doc_id) struct — cluster-count-
      // sized output, no per-cluster sort), joined back on the label.
      val pairs = minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold,
        ordered = false).select("a", "b")
      val lab = ccLabels(s, pairs)
        .join(Tables.t(s, d, "documents").select(col("doc_id"), col("n_chars")),
          "doc_id")
      // r19 opt: canonical + cluster_size via ONE window over the label
      // partition instead of groupBy + join-back (2 exchanges and a second
      // execution of the lab subtree) — same argmax, same tie-break. The
      // window input is clustered-docs-sized (output-scale), never corpus.
      val wLab = org.apache.spark.sql.expressions.Window.partitionBy("label")
      lab
        .withColumn("m",
          max(struct(col("n_chars"), (-col("doc_id")).as("nid"))).over(wLab))
        .withColumn("cluster_size", count(lit(1)).over(wLab))
        .select(col("doc_id"), col("label").as("cluster_id"),
          (-col("m.nid")).as("canonical_id"),
          (col("doc_id") === -col("m.nid")).cast(LongType).as("kept"),
          col("cluster_size"))
        .orderBy("doc_id")
    },

    // ---------- incremental dedup: today's crawl vs the existing corpus
    "q_llm_dedup_incremental" -> { (s, d) =>
      // the daily-ingest shape: an incoming shard (doc_id % 4 == 0
      // stands in for "today's crawl") dedups AGAINST the standing
      // corpus, not within itself — each new doc gets a verdict:
      // exact_dup (normalized text already in the base), near_dup (a
      // verified MinHash pair connects it to a base doc), or novel.
      // Exact check = fixed-width hash semi-join (never text equality
      // on the shuffle). Near check reuses the verified band-bucket
      // pair pipeline over the union and keeps only CROSS pairs — at
      // production scale the base side's signatures/band keys are the
      // precomputed standing index and only the new shard's are built
      // per ingest; the join shape is identical. All verdict joins key
      // on the long doc_id (output-sized sides), never on text.
      val withNh = Tables.t(s, d, "documents")
        .select(col("doc_id"),
          substring(md5(normText(col("text"))), 1, 16).as("nh"))
      // r19 opt (guide §2.4): the exact check is ONE window count over
      // the nh partition — a new doc is exact_dup iff its fixed-width
      // hash group holds >= 1 base doc — instead of the former shape's
      // distinct() + left_semi join + verdict join-back (three exchanges
      // and a second corpus scan for the base side). The window input is
      // the same hash projection either way; at production scale where
      // the base side is a precomputed standing index, the same verdict
      // comes from the index's nh bucket counts — still no text ever
      // crosses a shuffle. Pinned by R19OptShapeSpec's incremental test.
      val wNh = Window.partitionBy("nh")
      val newDocs = withNh
        .withColumn("base_cnt",
          sum(when(col("doc_id") % 4 =!= 0, 1L).otherwise(0L)).over(wNh))
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), (col("base_cnt") > 0).as("is_exact"))
      val pairs = minhashPairs(shinglesDF(s, d), NumHashes, Bands, JacThreshold,
        ordered = false).select("a", "b")
      val nearIds = pairs
        .filter((col("a") % 4 === 0) =!= (col("b") % 4 === 0))
        .select(when(col("a") % 4 === 0, col("a")).otherwise(col("b")).as("doc_id"))
        .distinct()
        .withColumn("is_near", lit(1L))
      newDocs
        .join(nearIds, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_exact"), "exact_dup")
            .when(col("is_near") === 1L, "near_dup")
            .otherwise("novel").as("verdict"))
        .orderBy("doc_id")
    },

    // ----------- document chunking: overlapping token windows (RAG/packing)
    "q_llm_chunk" -> { (s, d) =>
      // context-window preparation: split every document into overlapping
      // token windows (width [[ChunkW]], stride [[ChunkS]] — chunk i
      // covers tokens [i*S+1, i*S+W], starts while i*S < n so the tail
      // chunk keeps its remainder). Pure per-row explode — chunking a
      // 100 TB corpus is MAP-ONLY, zero shuffle below the mandated ORDER
      // BY, and the chunk digest gives downstream chunk-level dedup a
      // join key without re-materializing chunk text.
      val n = size(col("ws"))
      val chunk = slice(col("ws"), col("i") * ChunkS + 1, lit(ChunkW))
      Tables.t(s, d, "documents")
        .select(col("doc_id"), split(normText(col("text")), " ").as("ws"))
        .filter(n >= 1)
        .select(col("doc_id"),
          explode(sequence(lit(0L), floor((n - 1).cast(DoubleType) / ChunkS)
            .cast(LongType))).as("i"),
          col("ws"))
        .select(col("doc_id"), col("i").as("chunk_id"),
          size(chunk).cast(LongType).as("n_chunk_tokens"),
          substring(md5(concat_ws(" ", chunk)), 1, 16).as("digest"))
        .orderBy("doc_id", "chunk_id")
    },

    // ---------------- distribution entropy: the degenerate-text signal
    "q_llm_entropy" -> { (s, d) =>
      // per-doc Shannon entropy of the character and word distributions —
      // the quality signal that catches DEGENERATE text (key-mash, char
      // floods, single-token repetition) that length/stopword gates pass.
      // H = log2(n) - sum(c*log2 c)/n over the unit counts; summation
      // order moves the last ulps, so the output rounds to 4 decimals
      // (the corpus-wide convention for DOUBLE outputs, §7.5).
      // Shape (r10): ONE native per-row pass ([[TextSketch.entropyStats]],
      // state bounded by the doc's alphabet + vocabulary) — a narrow
      // map-only projection with NO explode and NO groupBy; r9's version
      // exploded one row per CHARACTER (16x the corpus) into a
      // corpus-wide count shuffle. Empty-normalized docs drop, exactly
      // as the explode formulation dropped them.
      Tables.t(s, d, "documents")
        .select(col("doc_id"),
          graft.functions.TextSketch.entropyStatsCol(normText(col("text"))).as("es"))
        .filter(col("es").isNotNull)
        .select(col("doc_id"), col("es.n_chars_norm").as("n_chars_norm"),
          round(col("es.char_entropy"), 4).as("char_entropy"),
          round(col("es.word_entropy"), 4).as("word_entropy"))
        .orderBy("doc_id")
    },

    // ------- duplicated-passage removal (the CCNet line-dedup analog)
    "q_llm_segment_dedup" -> { (s, d) =>
      // see [[segmentDedupFromDocs]]: segment df across the corpus,
      // rewrite each doc dropping segments found in > SegDupDf docs
      segmentDedupFromDocs(
        Tables.t(s, d, "documents")
          .select(col("doc_id"), normText(col("text")).as("nt")))
        .orderBy("doc_id")
    },

    // ------------------- per-source cap (the web-pipeline domain cap)
    "q_llm_domain_cap" -> { (s, d) =>
      // see [[domainCapFromDocs]]: top-cap keep-set per source INSIDE
      // the aggregate (BoundedTopK), verdicts via broadcast join —
      // never a per-source sort (Round9PipelineSpec asserts no Window)
      domainCapFromDocs(
        Tables.t(s, d, "documents").select(col("doc_id"), col("source")),
        DomainCap)
        .orderBy("doc_id")
    },

    // ------------- token-budget mixture sampling across sources
    "q_llm_mixture_sample" -> { (s, d) =>
      // see [[mixtureVerdictsFromDocs]]: per-source token budgets from
      // fixed quality weights, docs admitted in md5 order until spent;
      // two-level bucket design sorts only the boundary bucket. Output
      // is the per-source mixture report.
      val docs = Tables.t(s, d, "documents")
        .select(col("doc_id"), col("source"), normText(col("text")).as("nt"))
      val (verdicts, budgets) = mixtureCore(docs, MixtureFrac)
      verdicts
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("tok").as("tok_total"),
          sum(when(col("kept") === 1L, col("tok")).otherwise(0L)).as("tok_kept"))
        .join(budgets, "source")
        .select(col("source"), col("n_docs"), col("n_kept"),
          col("tok_total"), col("tok_kept"), col("budget"))
        .orderBy("source")
    }
  )

  private val sqlDecontam =
    """WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
      |              FROM documents),
      |grams AS (SELECT DISTINCT doc_id,
      |            unnest(list_transform(range(1, len(ws) - 6),
      |                   i -> array_to_string(list_slice(ws, i, i + 7), ' '))) AS g
      |          FROM docs WHERE len(ws) >= 8),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id < 5)
      |SELECT doc_id, count(*) AS n_hits
      |FROM grams JOIN bench USING (g)
      |WHERE doc_id >= 5 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_llm_dedup_exact" ->
      ("SELECT min(doc_id) AS doc_id, count(*) AS dup_cnt FROM documents " +
       "GROUP BY trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) ORDER BY doc_id"),

    "q_llm_dedup_near" ->
      sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold),

    "q_llm_dedup_ngram" ->
      sqlMinhashPairs(sqlNgrams, NgramHashes, NgramBands, NgramThreshold,
        maxBucket = NgramMaxBucket, sampleMod = NgramSampleMod),

    "q_llm_dedup_simhash" -> {
      val chunkDefs = (0 until SimBits / 16).map(j =>
        s"CAST('0x' || substring(h, ${j * 4 + 1}, 4) AS BIGINT) AS c$j").mkString(", ")
      val voteExprs = (0 until SimBits).map { b =>
        val j = b / 16
        val k = 15 - (b % 16)
        s"sum(((c$j >> $k) % 2) * 2 - 1) AS v$b"
      }.mkString(",\n  ")
      // bit-pack band j's 16 vote signs into int s_j (bit 15-i = sign of
      // vote j*16+i) — mirrors the Spark side exactly
      val sigExprs = (0 until SimBands).map { j =>
        (0 until 16).map { i =>
          s"(CASE WHEN v${j * 16 + i} >= 0 THEN ${1L << (15 - i)} ELSE 0 END)"
        }.mkString("(", " + ", s") AS s$j")
      }.mkString(",\n  ")
      val sigCols = (0 until SimBands).map(j => s"s$j").mkString(", ")
      val bandCase = (0 until SimBands)
        .map(j => s"WHEN $j THEN s$j")
        .mkString("CASE band ", " ", " END")
      val bandVals = (0 until SimBands).map(j => s"($j)").mkString(", ")
      val aSigs = (0 until SimBands).map(j => s"x.s$j AS sa$j").mkString(", ")
      val bSigs = (0 until SimBands).map(j => s"y.s$j AS sb$j").mkString(", ")
      val hamexpr = (0 until SimBands).map(j => s"bit_count(xor(sa$j, sb$j))")
        .mkString(" + ")
      s"""WITH w AS (SELECT doc_id, md5(word) AS h FROM (
         |  SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
         |  FROM documents) WHERE length(word) > 0),
         |wc AS (SELECT doc_id, $chunkDefs FROM w),
         |votes AS (SELECT doc_id,
         |  $voteExprs
         |  FROM wc GROUP BY doc_id),
         |sig AS (SELECT doc_id,
         |  $sigExprs
         |  FROM votes),
         |bands AS (SELECT doc_id, $sigCols, band, $bandCase AS bkey
         |          FROM sig CROSS JOIN (VALUES $bandVals) bb(band)),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, $aSigs, $bSigs
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
         |SELECT a, b, CAST($hamexpr AS BIGINT) AS hamming
         |FROM cand
         |WHERE $hamexpr <= $HamThreshold
         |ORDER BY a, b""".stripMargin
    },

    "q_llm_dedup_cluster" -> {
      val pairsSql = sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold)
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, root) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc)
         |SELECT doc AS doc_id, min(root) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin
    },

    "q_llm_dedup_embcluster" ->
      s"""WITH RECURSIVE b AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket,
         |            sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings),
         |pairs AS (SELECT x.vec_id AS a, y.vec_id AS b
         |          FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |          WHERE round(${sqlDot("x.embedding", "y.embedding")} /
         |                      (x.nrm * y.nrm), 4) >= $CosThreshold),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, root) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc)
         |SELECT doc AS vec_id, min(root) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY vec_id""".stripMargin,

    "q_llm_dedup_embcos" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket,
         |            sqrt(${sqlDot("embedding", "embedding")}) AS nrm FROM embeddings)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       round(${sqlDot("x.embedding", "y.embedding")} /
         |             (x.nrm * y.nrm), 4) AS cos
         |FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
         |WHERE round(${sqlDot("x.embedding", "y.embedding")} /
         |            (x.nrm * y.nrm), 4) >= $CosThreshold
         |ORDER BY a, b""".stripMargin,

    "q_llm_dedup_embcos_banded" -> {
      // one bucket-key column per LSH table (deterministic ±1 plane
      // literals — the SQL is mechanical); candidates = union of the T
      // per-table bucket self-joins behind the same windowed-count cap
      // the Spark side applies, then the exact-cosine verify
      val tabs = embPlaneTables(EmbTables, EmbPlanesPerTable)
      val bktCols = tabs.zipWithIndex.map { case (ps, t) =>
        s"${sqlBucketFor(ps, "embedding")} AS bkt$t"
      }.mkString(",\n           ")
      val bktCase = (0 until EmbTables)
        .map(t => s"WHEN $t THEN bkt$t").mkString("CASE tab ", " ", " END")
      val tabVals = (0 until EmbTables).map(t => s"($t)").mkString(", ")
      s"""WITH b AS (SELECT vec_id, embedding,
         |           sqrt(${sqlDot("embedding", "embedding")}) AS nrm,
         |           $bktCols
         |           FROM embeddings),
         |k AS (SELECT vec_id, tab, $bktCase AS bkey
         |      FROM b CROSS JOIN (VALUES $tabVals) tt(tab)),
         |kf AS (SELECT vec_id, tab, bkey FROM (
         |       SELECT vec_id, tab, bkey,
         |              row_number() OVER (PARTITION BY tab, bkey
         |                ORDER BY md5(CAST(tab AS VARCHAR) || ':' || bkey || '_' || CAST(vec_id AS VARCHAR)), vec_id) AS rn
         |       FROM k) WHERE rn <= $EmbMaxBucket),
         |cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         |         FROM kf x JOIN kf y
         |           ON x.tab = y.tab AND x.bkey = y.bkey AND x.vec_id < y.vec_id)
         |SELECT c.a, c.b,
         |       round(${sqlDot("xa.embedding", "xb.embedding")} /
         |             (xa.nrm * xb.nrm), 4) AS cos
         |FROM cand c JOIN b xa ON xa.vec_id = c.a JOIN b xb ON xb.vec_id = c.b
         |WHERE round(${sqlDot("xa.embedding", "xb.embedding")} /
         |            (xa.nrm * xb.nrm), 4) >= $CosThreshold
         |ORDER BY a, b""".stripMargin
    },

    "q_llm_simsearch_topk" ->
      s"""WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id,
         |       round(${sqlDot("embedding", "qe")} /
         |             (sqrt(${sqlDot("embedding", "embedding")}) * sqrt(${sqlDot("qe", "qe")})), 4) AS score
         |FROM embeddings CROSS JOIN q
         |WHERE vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q_llm_simsearch_ann" ->
      s"""WITH b AS (SELECT vec_id, embedding, ${sqlBucket("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT embedding AS qe, bucket AS qbucket FROM b WHERE vec_id = 0)
         |SELECT vec_id,
         |       round(${sqlDot("embedding", "qe")} /
         |             (sqrt(${sqlDot("embedding", "embedding")}) * sqrt(${sqlDot("qe", "qe")})), 4) AS score
         |FROM b CROSS JOIN q
         |WHERE b.bucket = q.qbucket AND vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q_llm_simsearch_ivf" ->
      s"""WITH v AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS vn
         |           FROM embeddings),
         |c AS (SELECT vec_id AS cid, embedding AS cvec, vn AS cn FROM v WHERE vec_id < 16),
         |a0 AS (SELECT v.vec_id, v.embedding, v.vn, c.cid,
         |              ${sqlDot("v.embedding", "c.cvec")} / (v.vn * c.cn) AS cos
         |       FROM v CROSS JOIN c),
         |assign AS (SELECT vec_id, embedding, vn, cid FROM (
         |       SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY cos DESC, cid ASC) AS rn
         |       FROM a0) WHERE rn = 1),
         |q AS (SELECT embedding AS qe, vn AS qn FROM v WHERE vec_id = 0),
         |p0 AS (SELECT c.cid, ${sqlDot("c.cvec", "q.qe")} / (c.cn * q.qn) AS qcos
         |       FROM c CROSS JOIN q),
         |probes AS (SELECT cid FROM p0 ORDER BY qcos DESC, cid ASC LIMIT 4)
         |SELECT a.vec_id,
         |       round(${sqlDot("a.embedding", "q.qe")} / (a.vn * q.qn), 4) AS score
         |FROM assign a JOIN probes USING (cid) CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    "q_llm_simsearch_ivf_lloyd" ->
      s"""WITH v AS (SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS vn
         |           FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, embedding AS cvec, vn AS cn FROM v WHERE vec_id < 16),
         |s0 AS (SELECT v.vec_id, v.embedding, c.cid,
         |              ${sqlDot("v.embedding", "c.cvec")} / (v.vn * c.cn) AS cos
         |       FROM v CROSS JOIN c0 c),
         |assign0 AS (SELECT vec_id, embedding, cid FROM (
         |       SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY cos DESC, cid ASC) AS rn
         |       FROM s0) WHERE rn = 1),
         |ax AS (SELECT cid, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS x
         |       FROM assign0 CROSS JOIN (SELECT unnest(range(1, ${Dim + 1})) AS i) ii
         |       GROUP BY cid, i),
         |c1 AS (SELECT cid, list(x ORDER BY i) AS cvec FROM ax GROUP BY cid),
         |c AS (SELECT cid, cvec, sqrt(${sqlDot("cvec", "cvec")}) AS cn FROM c1),
         |s1 AS (SELECT v.vec_id, v.embedding, v.vn, c.cid,
         |              ${sqlDot("v.embedding", "c.cvec")} / (v.vn * c.cn) AS cos
         |       FROM v CROSS JOIN c),
         |assign AS (SELECT vec_id, embedding, vn, cid FROM (
         |       SELECT *, row_number() OVER (PARTITION BY vec_id
         |                                    ORDER BY cos DESC, cid ASC) AS rn
         |       FROM s1) WHERE rn = 1),
         |q AS (SELECT embedding AS qe, vn AS qn FROM v WHERE vec_id = 0),
         |p0 AS (SELECT c.cid, ${sqlDot("c.cvec", "q.qe")} / (c.cn * q.qn) AS qcos
         |       FROM c CROSS JOIN q),
         |probes AS (SELECT cid FROM p0 ORDER BY qcos DESC, cid ASC LIMIT 4)
         |SELECT a.vec_id,
         |       round(${sqlDot("a.embedding", "q.qe")} / (a.vn * q.qn), 4) AS score
         |FROM assign a JOIN probes USING (cid) CROSS JOIN q
         |WHERE a.vec_id <> 0
         |ORDER BY score DESC, vec_id ASC
         |LIMIT 10""".stripMargin,

    // the twin computes the same codebook/subvectors/distances from the
    // raw table (identical fold orders) and states the window spelling
    // of the per-(vector, subspace) argmin
    "q_llm_embed_pq" -> {
      def sdot(a: String, b: String) =
        s"list_sum(list_transform(range(1, ${pqSubDim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"
      s"""WITH cb0 AS (SELECT vec_id AS code, embedding, unnest(range(0, $PqM)) AS m
         |             FROM embeddings WHERE vec_id < $PqK),
         |cb AS (SELECT m, code,
         |         list_slice(embedding, CAST(m*$pqSubDim+1 AS BIGINT), CAST(m*$pqSubDim+$pqSubDim AS BIGINT)) AS cvec
         |       FROM cb0),
         |vs0 AS (SELECT vec_id, embedding, unnest(range(0, $PqM)) AS m FROM embeddings),
         |vs AS (SELECT vec_id, m,
         |         list_slice(embedding, CAST(m*$pqSubDim+1 AS BIGINT), CAST(m*$pqSubDim+$pqSubDim AS BIGINT)) AS x
         |       FROM vs0),
         |d AS (SELECT v.vec_id, v.m, c.code,
         |        ${sdot("v.x", "v.x")} - 2 * ${sdot("v.x", "c.cvec")} + ${sdot("c.cvec", "c.cvec")} AS dist
         |      FROM vs v JOIN cb c ON v.m = c.m),
         |r AS (SELECT vec_id, m, code, dist,
         |        row_number() OVER (PARTITION BY vec_id, m ORDER BY dist ASC, code ASC) AS rnk
         |      FROM d)
         |SELECT vec_id,
         |       array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), ',') AS codes,
         |       round(sum(dist) / $Dim, 4) AS mse
         |FROM r WHERE rnk = 1
         |GROUP BY vec_id ORDER BY vec_id""".stripMargin
    },

    // the twin states the window spelling of the per-digest canonical;
    // the Spark side's argmin aggregate is tie-free ((doc, chunk) unique)
    "q_llm_chunk_dedup" ->
      s"""WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |              FROM documents),
         |c AS (SELECT doc_id, ws,
         |        unnest(range(0, CAST(floor(CAST(len(ws) - 1 AS DOUBLE) / $ChunkS) AS BIGINT) + 1)) AS i
         |      FROM docs WHERE len(ws) >= 1),
         |ch AS (SELECT doc_id, i AS chunk_id,
         |         substring(md5(array_to_string(list_slice(ws, CAST(i * $ChunkS + 1 AS BIGINT),
         |           CAST(least(i * $ChunkS + $ChunkW, len(ws)) AS BIGINT)), ' ')), 1, 16) AS digest
         |       FROM c),
         |r AS (SELECT doc_id, chunk_id, digest,
         |        row_number() OVER (PARTITION BY digest ORDER BY doc_id ASC, chunk_id ASC) AS rnk
         |      FROM ch)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_owned,
         |       CAST(count(*) - sum(CASE WHEN rnk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_deduped
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_llm_corpus_stats" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt,
        |             CAST(len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS BIGINT) AS tok
        |           FROM documents),
        |m AS (SELECT count(*) AS n_docs,
        |        count(DISTINCT source) AS n_sources,
        |        count(DISTINCT lang) AS n_langs,
        |        CAST(sum(tok) AS BIGINT) AS total_tokens,
        |        min(tok) AS min_tokens, max(tok) AS max_tokens,
        |        count(DISTINCT substring(md5(nt), 1, 16)) AS n_distinct_texts
        |      FROM d),
        |v AS (SELECT count(DISTINCT w) AS vocab_size FROM (
        |        SELECT unnest(string_split(nt, ' ')) AS w FROM d) WHERE length(w) > 0)
        |SELECT n_docs, n_sources, n_langs, total_tokens, min_tokens, max_tokens,
        |       vocab_size,
        |       round(CAST(n_docs - n_distinct_texts AS DOUBLE) / n_docs, 4) AS exact_dup_rate
        |FROM m CROSS JOIN v""".stripMargin,

    // the composed-pipeline twin: every stage is the standalone row's
    // oracle fragment (quality CASE, md5-prefix exact keys, the MinHash
    // pair CTE restricted to survivors, the recursive-CTE labels +
    // window canonical, the hash-bucket split)
    "q_llm_pipeline_e2e" -> {
      val stopList = Stopwords.take(5).map(w => s"'$w'").mkString("[", ",", "]")
      val pairsSql = sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold)
      s"""WITH RECURSIVE
         |norm0 AS (SELECT doc_id, n_chars,
         |            trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS nt,
         |            string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |          FROM documents),
         |kept0 AS (SELECT doc_id, n_chars, nt FROM norm0
         |          WHERE len(ws) >= 20 AND len(ws) <= 50000
         |            AND CAST(len(list_filter(ws, x -> list_contains($stopList, x))) AS DOUBLE) / len(ws) > 0.01
         |            AND CAST(length(nt) - length(regexp_replace(nt, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(nt) < 0.3),
         |kept1 AS (SELECT k.doc_id, k.n_chars FROM kept0 k
         |          JOIN (SELECT min(doc_id) AS doc_id FROM kept0
         |                GROUP BY substring(md5(nt), 1, 16)) e ON k.doc_id = e.doc_id),
         |pairs0 AS ($pairsSql),
         |pairs AS (SELECT a, b FROM pairs0
         |          WHERE a IN (SELECT doc_id FROM kept1)
         |            AND b IN (SELECT doc_id FROM kept1)),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, root) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc),
         |lab AS (SELECT doc AS doc_id, min(root) AS cluster_id
         |        FROM reach GROUP BY doc),
         |w AS (SELECT l.doc_id, first_value(l.doc_id) OVER (
         |        PARTITION BY l.cluster_id ORDER BY k.n_chars DESC, l.doc_id ASC)
         |        AS canonical_id
         |      FROM lab l JOIN kept1 k USING (doc_id)),
         |final AS (SELECT k.doc_id, k.n_chars FROM kept1 k
         |          LEFT JOIN w ON k.doc_id = w.doc_id
         |          WHERE w.doc_id IS NULL OR w.doc_id = w.canonical_id)
         |SELECT split, count(*) AS n_docs,
         |       CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
         |       min(doc_id) AS first_doc
         |FROM (SELECT doc_id, n_chars,
         |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |      FROM (SELECT doc_id, n_chars,
         |              CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
         |            FROM final))
         |GROUP BY split ORDER BY split""".stripMargin
    },

    "q_llm_split" ->
      """SELECT split, count(*) AS n_docs, min(doc_id) AS first_doc FROM (
        |  SELECT doc_id, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        |  FROM (SELECT doc_id, CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b
        |        FROM documents))
        |GROUP BY split ORDER BY split""".stripMargin,

    "q_llm_split_leakfree" -> {
      val pairsSql = sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold)
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, root) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc),
         |lab AS (SELECT doc AS doc_id, min(root) AS label FROM reach GROUP BY doc),
         |keyed AS (SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS split_key
         |          FROM documents d LEFT JOIN lab l USING (doc_id))
         |SELECT doc_id, split_key,
         |  CASE WHEN CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 80 THEN 'train'
         |       WHEN CAST('0x' || substring(md5(CAST(split_key AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM keyed ORDER BY doc_id""".stripMargin
    },

    "q_llm_sample_weighted" ->
      """SELECT source, count(*) AS kept FROM (
        |  SELECT d.source,
        |         CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS b,
        |         r.keep_pct
        |  FROM documents d
        |  LEFT JOIN (VALUES ('src0', 100), ('src1', 50), ('src2', 25)) r(source, keep_pct)
        |    ON d.source = r.source)
        |WHERE b < COALESCE(keep_pct, 10)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_llm_shuffle_shard" ->
      """SELECT shard, row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) AS pos, doc_id
        |FROM (SELECT doc_id,
        |             CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
        |             md5(CAST(doc_id AS VARCHAR)) AS hx
        |      FROM documents)
        |ORDER BY shard, pos""".stripMargin,

    "q_llm_pack_bins" ->
      """SELECT shard, bin, count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS bin_tokens FROM (
        |  SELECT shard,
        |         CAST(floor((sum(tokens) OVER (PARTITION BY shard ORDER BY hx, doc_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - tokens) / 512.0) AS BIGINT) AS bin,
        |         tokens
        |  FROM (SELECT doc_id,
        |               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard,
        |               md5(CAST(doc_id AS VARCHAR)) AS hx,
        |               len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS tokens
        |        FROM documents))
        |GROUP BY shard, bin ORDER BY shard, bin""".stripMargin,

    "q_llm_decontam" -> sqlDecontam,

    // the bloom prefilter is re-verified by an exact join, so the result
    // — and the oracle — is q_llm_decontam's, bit for bit
    "q_llm_decontam_bloom" -> sqlDecontam,

    "q_llm_pii_scrub" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(norm, '[0-9]+')) AS n_nums,
        |  len(regexp_extract_all(norm, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+')) AS n_emails,
        |  substring(md5(regexp_replace(regexp_replace(norm,
        |    '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]+', '<NUM>', 'g')), 1, 16) AS scrubbed_digest
        |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_llm_quality_filter" -> {
      val stopList = Stopwords.take(5).map(w => s"'$w'").mkString("[", ",", "]")
      s"""SELECT verdict, count(*) AS n_docs, min(doc_id) AS first_doc FROM (
         |  SELECT doc_id, CASE
         |    WHEN len(ws) < 20 THEN 'too_short'
         |    WHEN len(ws) > 50000 THEN 'too_long'
         |    WHEN CAST(len(list_filter(ws, x -> list_contains($stopList, x))) AS DOUBLE) / len(ws) <= 0.01 THEN 'low_stopword'
         |    WHEN CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(norm) >= 0.3 THEN 'too_much_punct'
         |    ELSE 'keep' END AS verdict
         |  FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         |               string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |        FROM documents))
         |GROUP BY verdict ORDER BY verdict""".stripMargin
    },

    "q_llm_repetition" ->
      """WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
        |              FROM documents),
        |g AS (SELECT doc_id,
        |        unnest(list_transform(range(1, len(ws) - 1),
        |               i -> array_to_string(list_slice(ws, i, i + 2), ' '))) AS g
        |      FROM docs WHERE len(ws) >= 3),
        |c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
        |SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 4) AS rep_ratio,
        |       max(c) AS top_gram_cnt
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_llm_text_analysis" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""SELECT word, count(*) AS cnt
         |FROM (SELECT unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS word
         |      FROM documents)
         |WHERE NOT list_contains($stopList, word) AND length(word) > 0
         |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 20""".stripMargin
    },

    "q_llm_text_stats" -> {
      val stopList = Stopwords.take(5).map(w => s"'$w'").mkString("[", ",", "]")
      s"""SELECT doc_id,
         |  len(ws) AS n_words,
         |  len(regexp_extract_all(norm, '[a-z0-9]+')) AS n_tokens,
         |  round(CAST(list_sum(list_transform(ws, x -> length(x))) AS DOUBLE) / len(ws), 4) AS avg_word_len,
         |  round(CAST(len(list_filter(ws, x -> list_contains($stopList, x))) AS DOUBLE) / len(ws), 4) AS stop_ratio,
         |  CASE WHEN CAST(len(list_filter(ws, x -> list_contains($stopList, x))) AS DOUBLE) / len(ws) > 0.02
         |       THEN 'en' ELSE 'unk' END AS lang_guess,
         |  round(least(1.0, CAST(len(ws) AS DOUBLE) / 100) *
         |        (1.0 - CAST(length(norm) - length(regexp_replace(norm, '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(norm)), 4) AS quality,
         |  substring(md5(norm), 1, 16) AS fingerprint
         |FROM (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm,
         |             string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    },

    "q_llm_dedup_contain" ->
      s"""WITH sh0 AS ($sqlShingles),
         |sh AS (SELECT DISTINCT doc_id, CAST('0x' || substring(md5(shingle), 1, 15) AS BIGINT) AS h FROM sh0),
         |shp AS (SELECT doc_id, h FROM (
         |        SELECT doc_id, h,
         |               count(*) OVER (PARTITION BY h) AS df,
         |               row_number() OVER (PARTITION BY h
         |                 ORDER BY md5(CAST(h AS VARCHAR) || '_' || CAST(doc_id AS VARCHAR)), doc_id) AS rn
         |        FROM sh) WHERE df >= 2 AND rn <= $MaxBucket),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |         FROM shp x JOIN shp y ON x.h = y.h AND x.doc_id < y.doc_id),
         |inter AS (SELECT c.a, c.b, count(*) AS inter
         |          FROM cand c JOIN sh sa ON sa.doc_id = c.a
         |                      JOIN sh sb ON sb.doc_id = c.b AND sb.h = sa.h
         |          GROUP BY 1, 2),
         |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |scored AS (SELECT i.a, i.b, i.inter, za.sz AS sza, zb.sz AS szb
         |           FROM inter i JOIN sz za ON za.doc_id = i.a
         |                        JOIN sz zb ON zb.doc_id = i.b)
         |SELECT contained, container, containment FROM (
         |  SELECT a AS contained, b AS container,
         |         round(CAST(inter AS DOUBLE) / sza, 4) AS containment,
         |         CAST(inter AS DOUBLE) / sza AS raw FROM scored
         |  UNION ALL
         |  SELECT b, a, round(CAST(inter AS DOUBLE) / szb, 4),
         |         CAST(inter AS DOUBLE) / szb FROM scored)
         |WHERE raw >= 0.9
         |ORDER BY contained, container""".stripMargin,

    "q_llm_fingerprint_winnow" -> {
      val coefList = WinnowCoefs.mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |           FROM documents),
         |g AS (SELECT doc_id, norm, unnest(range(1, length(norm) - ${WinnowK - 2})) AS i
         |      FROM d WHERE length(norm) >= ${WinnowK + WinnowW - 1}),
         |h AS (SELECT doc_id, i,
         |        CAST(list_sum(list_transform(range(0, $WinnowK),
         |          j -> CAST(unicode(substring(norm, CAST(i + j AS INTEGER), 1)) AS BIGINT) * ($coefList)[j + 1]))
         |          % $HashP AS BIGINT) AS h
         |      FROM g),
         |wm AS (SELECT doc_id, i,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin
         |       FROM h),
         |fps AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE i >= $WinnowW)
         |SELECT doc_id, count(*) AS n_fps, CAST(sum(wmin) AS BIGINT) AS fp_sum,
         |       min(wmin) AS fp_min, max(wmin) AS fp_max
         |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_llm_multimodal_cols" ->
      ("SELECT doc_id, octet_length(encode(text)) AS n_bytes, md5(text) AS digest, " +
       "'text/plain' AS mime, n_chars FROM documents ORDER BY doc_id"),

    // reproduces the stub container math (frames = bytes/8, stride-4
    // ceil, ts = idx*1000//25) from octet_length alone — the Spark side
    // is the REAL partition-wise sampleFrames pipeline, not arithmetic
    "q_llm_multimodal_frames" ->
      """WITH f AS (SELECT doc_id,
        |             greatest(1, octet_length(encode(text)) // 8) AS nf
        |           FROM documents WHERE octet_length(encode(text)) >= 1)
        |SELECT doc_id,
        |  CAST((nf - 1) // 4 + 1 AS BIGINT) AS n_frames_sampled,
        |  CAST(((nf - 1) // 4) * 4 * 1000 // 25 AS BIGINT) AS last_frame_ts_ms
        |FROM f ORDER BY doc_id""".stripMargin,

    // the stub decoder's header parse (dims from byte 0 and byte len/2)
    // + the aspect-fit rational, stated in SQL
    "q_llm_multimodal_resize" ->
      """WITH b AS (SELECT doc_id, text, octet_length(encode(text)) AS len FROM documents),
        |d AS (SELECT doc_id,
        |        16 + (unicode(substring(text, 1, 1)) & 63) AS w,
        |        16 + (unicode(substring(text, len // 2 + 1, 1)) & 63) AS h
        |      FROM b),
        |r AS (SELECT doc_id, w, h, greatest(w, h) AS side FROM d)
        |SELECT doc_id, w AS width, h AS height,
        |  CASE WHEN side <= 32 THEN w ELSE greatest(1, w * 32 // side) END AS out_width,
        |  CASE WHEN side <= 32 THEN h ELSE greatest(1, h * 32 // side) END AS out_height
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_llm_copy_detect" -> {
      val coefList = WinnowCoefs.mkString("[", ", ", "]")
      s"""WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
         |           FROM documents),
         |g AS (SELECT doc_id, norm, unnest(range(1, length(norm) - ${WinnowK - 2})) AS i
         |      FROM d WHERE length(norm) >= ${WinnowK + WinnowW - 1}),
         |h AS (SELECT doc_id, i,
         |        CAST(list_sum(list_transform(range(0, $WinnowK),
         |          j -> CAST(unicode(substring(norm, CAST(i + j AS INTEGER), 1)) AS BIGINT) * ($coefList)[j + 1]))
         |          % $HashP AS BIGINT) AS h
         |      FROM g),
         |wm AS (SELECT doc_id, i,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY i
         |                      ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW) AS wmin
         |       FROM h),
         |fps AS (SELECT DISTINCT doc_id, wmin FROM wm WHERE i >= $WinnowW),
         |df AS (SELECT wmin FROM fps GROUP BY wmin HAVING count(*) BETWEEN 2 AND $MaxBucket),
         |fpp AS (SELECT doc_id, wmin FROM fps WHERE wmin IN (SELECT wmin FROM df))
         |SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
         |FROM fpp x JOIN fpp y ON x.wmin = y.wmin AND x.doc_id < y.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $CopyMinShared
         |ORDER BY a, b""".stripMargin
    },

    "q_llm_langid" -> {
      def sscore(ms: Seq[String]): String =
        ms.map(m => s"(length(p) - length(replace(p, '$m', '')))").mkString(" + ")
      s"""WITH d AS (SELECT lang, ' ' || trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) || ' ' AS p
         |           FROM documents),
         |s AS (SELECT lang,
         |        ${sscore(LangMarkers("en"))} AS s_en,
         |        ${sscore(LangMarkers("de"))} AS s_de,
         |        ${sscore(LangMarkers("es"))} AS s_es,
         |        ${sscore(LangMarkers("fr"))} AS s_fr
         |      FROM d)
         |SELECT lang,
         |  CASE WHEN s_en = 0 AND s_de = 0 AND s_es = 0 AND s_fr = 0 THEN 'unk'
         |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
         |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
         |       WHEN s_es >= s_fr THEN 'es'
         |       ELSE 'fr' END AS pred,
         |  count(*) AS n_docs
         |FROM s GROUP BY lang, pred ORDER BY lang, pred""".stripMargin
    },

    "q_llm_tfidf" -> {
      val stopList = Stopwords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH w AS (SELECT doc_id, w AS word FROM (
         |       SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS w
         |       FROM documents)
         |     WHERE NOT list_contains($stopList, w) AND length(w) > 0),
         |tf AS (SELECT doc_id, word, count(*) AS tf FROM w GROUP BY 1, 2),
         |dft AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT t.doc_id, t.word, CAST(t.tf AS DOUBLE) / d.df AS score
         |       FROM tf t JOIN dft d USING (word) WHERE t.doc_id < 20),
         |r AS (SELECT doc_id, word, score,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rnk
         |      FROM sc)
         |SELECT doc_id, rnk, word, round(score, 6) AS score
         |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin
    },

    "q_llm_embed_quantize" ->
      """WITH s AS (SELECT vec_id, label, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0, 1e-30) AS scale
        |  FROM embeddings)
        |SELECT vec_id, label, round(scale, 6) AS quant_scale,
        |  round(list_max(list_transform(embedding,
        |    x -> abs(CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) / scale + 0.5) * scale))), 6) AS max_abs_err
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_llm_boilerplate" ->
      s"""WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |              FROM documents),
         |g AS (SELECT DISTINCT doc_id,
         |        unnest(list_transform(range(1, len(ws) - 3),
         |               i -> array_to_string(list_slice(ws, i, i + 4), ' '))) AS g
         |      FROM docs WHERE len(ws) >= 5),
         |df AS (SELECT g, count(*) AS df FROM g GROUP BY g)
         |SELECT doc_id, count(*) AS n_grams,
         |       CAST(sum(CASE WHEN df > $BoilerplateDf THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         |       round(CAST(sum(CASE WHEN df > $BoilerplateDf THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS boiler_ratio
         |FROM g JOIN df USING (g)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the twin states the WINDOW spelling of per-stratum top-n — semantically
    // identical to the Spark side's bounded-buffer aggregate (BoundedTopK)
    "q_llm_sample_stratified" ->
      s"""WITH r AS (SELECT lang, source, doc_id,
         |             row_number() OVER (PARTITION BY lang, source
         |               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rnk
         |           FROM documents)
         |SELECT lang, source, count(*) AS n_sampled,
         |       array_to_string(list_sort(list(doc_id)), ',') AS picked
         |FROM r WHERE rnk <= $StratumN
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_llm_unigram_lm" ->
      """WITH w AS (SELECT doc_id, w AS word FROM (
        |       SELECT doc_id, unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
        |       FROM documents)
        |     WHERE length(w) > 0),
        |cf AS (SELECT word, count(*) AS cf FROM w GROUP BY 1)
        |SELECT doc_id, count(*) AS n_tokens,
        |       round(CAST(sum(cf) AS DOUBLE) / count(*), 4) AS avg_freq,
        |       min(cf) AS min_freq
        |FROM w JOIN cf USING (word)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the twin joins raw gram strings where the Spark side joins 60-bit
    // gram fingerprints — identical counts (injective on any real corpus)
    "q_llm_source_overlap" ->
      s"""WITH sh0 AS ($sqlShingles),
         |ss AS (SELECT DISTINCT d.source, s.shingle
         |       FROM sh0 s JOIN documents d USING (doc_id))
         |SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
         |FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the twin states the WINDOW spelling of per-lang top-k — semantically
    // identical to the Spark side's bounded-buffer aggregate
    // (BoundedTopKStrings ranks by the same (cnt DESC, gram ASC) order)
    "q_llm_ngram_topk" ->
      s"""WITH docs AS (SELECT lang, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |              FROM documents),
         |g AS (SELECT lang, unnest(list_transform(range(1, len(ws)),
         |             i -> ws[i] || ' ' || ws[i+1])) AS g
         |      FROM docs WHERE len(ws) >= 2),
         |c AS (SELECT lang, g, count(*) AS cnt FROM g GROUP BY 1, 2),
         |r AS (SELECT lang, g, cnt,
         |        row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, g ASC) AS rnk
         |      FROM c)
         |SELECT lang, rnk, g AS gram, cnt FROM r WHERE rnk <= $NgramTopK
         |ORDER BY lang, rnk""".stripMargin,

    "q_llm_dedup_keep_best" -> {
      val pairsSql = sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold)
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, root) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc),
         |lab AS (SELECT doc AS doc_id, min(root) AS cluster_id
         |        FROM reach GROUP BY doc),
         |m AS (SELECT l.doc_id, l.cluster_id, d.n_chars
         |      FROM lab l JOIN documents d USING (doc_id)),
         |w AS (SELECT doc_id, cluster_id,
         |        count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
         |        first_value(doc_id) OVER (PARTITION BY cluster_id
         |          ORDER BY n_chars DESC, doc_id ASC) AS canonical_id
         |      FROM m)
         |SELECT doc_id, cluster_id, canonical_id,
         |       CAST(doc_id = canonical_id AS BIGINT) AS kept, cluster_size
         |FROM w ORDER BY doc_id""".stripMargin
    },

    "q_llm_dedup_incremental" -> {
      val pairsSql = sqlMinhashPairs(sqlShingles, NumHashes, Bands, JacThreshold)
      s"""WITH pairs AS ($pairsSql),
         |nh AS (SELECT doc_id,
         |         substring(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 16) AS nh
         |       FROM documents),
         |newd AS (SELECT doc_id, nh FROM nh WHERE doc_id % 4 = 0),
         |base AS (SELECT DISTINCT nh FROM nh WHERE doc_id % 4 <> 0),
         |ex AS (SELECT DISTINCT n.doc_id FROM newd n JOIN base b USING (nh)),
         |near AS (SELECT DISTINCT CASE WHEN a % 4 = 0 THEN a ELSE b END AS doc_id
         |         FROM pairs WHERE (a % 4 = 0) <> (b % 4 = 0))
         |SELECT n.doc_id,
         |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
         |       WHEN r.doc_id IS NOT NULL THEN 'near_dup'
         |       ELSE 'novel' END AS verdict
         |FROM newd n LEFT JOIN ex e ON n.doc_id = e.doc_id
         |            LEFT JOIN near r ON n.doc_id = r.doc_id
         |ORDER BY n.doc_id""".stripMargin
    },

    "q_llm_chunk" ->
      s"""WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |              FROM documents),
         |c AS (SELECT doc_id, ws,
         |        unnest(range(0, CAST(floor(CAST(len(ws) - 1 AS DOUBLE) / $ChunkS) AS BIGINT) + 1)) AS i
         |      FROM docs WHERE len(ws) >= 1)
         |SELECT doc_id, i AS chunk_id,
         |  CAST(len(list_slice(ws, CAST(i * $ChunkS + 1 AS BIGINT),
         |       CAST(least(i * $ChunkS + $ChunkW, len(ws)) AS BIGINT))) AS BIGINT) AS n_chunk_tokens,
         |  substring(md5(array_to_string(list_slice(ws, CAST(i * $ChunkS + 1 AS BIGINT),
         |       CAST(least(i * $ChunkS + $ChunkW, len(ws)) AS BIGINT)), ' ')), 1, 16) AS digest
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_llm_entropy" ->
      """WITH nt AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS nt
        |            FROM documents),
        |cc AS (SELECT doc_id, u, count(*) AS c
        |       FROM (SELECT doc_id, unnest(regexp_extract_all(nt, '.')) AS u FROM nt)
        |       GROUP BY 1, 2),
        |ce AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_norm,
        |         round(log2(CAST(sum(c) AS DOUBLE)) -
        |               sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4) AS char_entropy
        |       FROM cc GROUP BY 1),
        |wc AS (SELECT doc_id, u, count(*) AS c
        |       FROM (SELECT doc_id, unnest(string_split(nt, ' ')) AS u FROM nt)
        |       WHERE length(u) > 0 GROUP BY 1, 2),
        |we AS (SELECT doc_id,
        |         round(log2(CAST(sum(c) AS DOUBLE)) -
        |               sum(c * log2(CAST(c AS DOUBLE))) / sum(c), 4) AS word_entropy
        |       FROM wc GROUP BY 1)
        |SELECT ce.doc_id, ce.n_chars_norm, ce.char_entropy, we.word_entropy
        |FROM ce JOIN we ON ce.doc_id = we.doc_id ORDER BY ce.doc_id""".stripMargin,

    "q_llm_segment_dedup" ->
      s"""WITH docs AS (SELECT doc_id, string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ') AS ws
         |              FROM documents),
         |segs AS (SELECT doc_id, i AS seg_idx,
         |           array_to_string(list_slice(ws, (i-1)*$SegW + 1, (i-1)*$SegW + $SegW), ' ') AS seg
         |         FROM (SELECT doc_id, ws,
         |                 unnest(range(1, CAST(ceil(len(ws) / CAST($SegW AS DOUBLE)) AS BIGINT) + 1)) AS i
         |               FROM docs)),
         |df AS (SELECT seg, count(*) AS df
         |       FROM (SELECT DISTINCT doc_id, seg FROM segs) GROUP BY 1)
         |SELECT doc_id, count(*) AS n_segs,
         |       CAST(sum(CASE WHEN df <= $SegDupDf THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       CAST(length(coalesce(string_agg(CASE WHEN df <= $SegDupDf THEN seg END, ' ' ORDER BY seg_idx), '')) AS BIGINT) AS clean_len,
         |       substring(md5(coalesce(string_agg(CASE WHEN df <= $SegDupDf THEN seg END, ' ' ORDER BY seg_idx), '')), 1, 16) AS clean_digest
         |FROM segs JOIN df USING (seg)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the twin states the WINDOW spelling of the per-source cap —
    // semantically identical to the Spark side's bounded-buffer
    // aggregate (BoundedTopK ranks by the same (md5, doc_id) order)
    "q_llm_domain_cap" ->
      s"""WITH r AS (SELECT doc_id, source,
         |             row_number() OVER (PARTITION BY source
         |               ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS rnk
         |           FROM documents)
         |SELECT doc_id, source,
         |       CAST(CASE WHEN rnk <= $DomainCap THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM r ORDER BY doc_id""".stripMargin,

    // the twin states the per-source window-cumsum spelling; the Spark
    // side's two-level bucket plan emits the identical verdict set
    // (Round9PipelineSpec proves the equivalence) while sorting only the
    // boundary bucket
    "q_llm_mixture_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
         |             CAST(len(string_split(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) AS tok,
         |             md5(CAST(doc_id AS VARCHAR)) AS hx
         |           FROM documents),
         |s AS (SELECT source, CAST(sum(tok) AS BIGINT) AS tok_total, count(*) AS n_docs,
         |             CAST(CASE WHEN length(source) = 4 THEN 2.0 ELSE 1.0 END AS DOUBLE) AS wt
         |      FROM d GROUP BY source),
         |b AS (SELECT source, n_docs, tok_total,
         |             CAST(floor(wt / sum(wt) OVER () * sum(tok_total) OVER () * CAST($MixtureFrac AS DOUBLE)) AS BIGINT) AS budget
         |      FROM s),
         |c AS (SELECT doc_id, source, tok,
         |             sum(tok) OVER (PARTITION BY source ORDER BY hx ASC, doc_id ASC
         |                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |      FROM d)
         |SELECT c.source, b.n_docs,
         |       CAST(sum(CASE WHEN cum <= budget THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       b.tok_total,
         |       CAST(sum(CASE WHEN cum <= budget THEN tok ELSE 0 END) AS BIGINT) AS tok_kept,
         |       b.budget
         |FROM c JOIN b ON c.source = b.source
         |GROUP BY c.source, b.n_docs, b.tok_total, b.budget
         |ORDER BY c.source""".stripMargin
  )
}
