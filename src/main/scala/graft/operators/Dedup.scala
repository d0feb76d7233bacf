package graft.operators

import graft.{Op, Tables}
import graft.CacheScope.CheckpointOps
import graft.functions.Compat._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines (SURVEY.md §2
  * block C): exact, n-gram Jaccard, MinHash+LSH, SimHash, and
  * embedding-cosine near-dup.
  *
  * Scale design: every variant is candidate-generation-first — an
  * inverted index (shingle/band/bucket → doc list) bounds the pair
  * space, so cost scales with Σ|bucket|², never |docs|². Exact dedup is
  * a single hash-groupBy (one shuffle). At 100 TB the LSH paths are the
  * production ones; the all-pairs Jaccard runs only on a keyed sample.
  */
object Dedup {

  /** The test corpus has no verbatim duplicates, so the exact/near-dup
    * operators are exercised on `documents ∪ re-keyed copies of every
    * 10th document` — deterministic, and reproducible in the oracle. */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private val corpusSql =
    """(SELECT doc_id, text FROM documents
      | UNION ALL
      | SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  /** Exact dedup: md5(text) → keep the lowest doc_id per content hash.
    * One hash-partitioned groupBy; at 100 TB use the same plan (the
    * shuffle key is the 128-bit digest, perfectly spread). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)
      .orderBy("keep_id")

  private val dedupExactOracle =
    s"""SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
       |FROM $corpusSql GROUP BY 1 HAVING COUNT(*) > 1 ORDER BY keep_id""".stripMargin

  /** Word-bigram Jaccard near-dup pairs over a keyed sample
    * (doc_id % 20 = 0): explode shingles → inverted index → pair
    * intersection counts → |A∩B| / (|A|+|B|-|A∩B|). */
  def dedupNgram(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    // distinct word-bigram shingles per doc; the size(toks) >= 2 guard
    // is load-bearing under ANSI mode — sequence(0, -1) counts DOWN, so
    // a 1-token doc would index toks[-1]/toks[1] and raise
    // INVALID_ARRAY_INDEX (DuckDB's generate_series(1, 0) is just
    // empty, so only the Spark side would die)
    val shingles = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("shingle")).distinct()
    val sizes = shingles.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    // pair generation by ONE hash aggregation on shingle (r8, the
    // dedupMinhash bandCandidates reshape): collect each shingle's doc
    // list, drop single-doc shingles BEFORE pair expansion (most of the
    // inverted index — the self-join shuffled them twice and matched
    // nothing), expand a < b pairs with two explodes, count per pair.
    // One exchange of the (doc, shingle) table instead of two join
    // sides; per-shingle state is the posting list — the same quantity
    // that already bounds the pair expansion quadratically.
    // SKEW CAVEAT (why this buffer is safe HERE but not in general):
    // natural-language shingles are Zipfian — a stop-word bigram ("of
    // the") can appear in most of a corpus, and unlike minhash band
    // buckets there is no uniformity argument. This operator's contract
    // bounds it: all-pairs ngram Jaccard runs on the keyed SAMPLE only
    // (the doc filter above), so the hottest posting list is sample-
    // sized. At full-corpus scale the production path is dedupMinhash
    // (uniform 8-byte buckets); the full-corpus ngram variant with the
    // document-frequency cut that caps hot shingles is
    // [[dedupNgramDfcut]] — a different operator, not a flag here,
    // because the cut changes `inter`.
    // Deliberately NOT persisted: the shingle subplan appears three
    // times statically (pairs + both size joins) but AQE stage reuse
    // absorbs the copies at runtime — an interleaved A/B
    // (graft.ProfileCC, last in the tree at commit 5ff44ba) measured
    // the persist+count variant ~2× SLOWER (cache write, an extra job,
    // broken stage pipelining) than this lazy shape.
    val pairs = shingles
      .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("id_a"), col("ds"))
      .select(col("id_a"), explode(col("ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= 0.06)
      .select("id_a", "id_b", "inter", "jaccard")
      .orderBy("id_a", "id_b")
  }

  private val dedupNgramOracle =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0),
      |shingles AS (
      |  SELECT DISTINCT doc_id,
      |    unnest(list_transform(generate_series(1, len(toks) - 1),
      |      i -> toks[i] || ' ' || toks[i+1])) AS shingle
      |  FROM docs),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
      |  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT id_a, id_b, inter,
      |  (sign(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)) * floor(abs(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)) * 1e4 + 0.5) / 1e4) AS jaccard
      |FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
      |           JOIN sizes sb ON pairs.id_b = sb.doc_id
      |WHERE (sign(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)) * floor(abs(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter)) * 1e4 + 0.5) / 1e4) >= 0.06
      |ORDER BY id_a, id_b""".stripMargin

  /** FULL-corpus word-bigram Jaccard near-dup with a document-frequency
    * cut — the scale-safe all-pairs variant [[dedupNgram]]'s skew caveat
    * calls for, and the remedy [[indexStats]] recommends when the LSH
    * pair load concentrates in hot buckets. Shingles appearing in more
    * than max(2, N/50) documents (2% of the corpus — stop-word bigrams,
    * boilerplate) are cut BEFORE any pair generation, so:
    *
    *  - pass 1 (df) is a count-only hash aggregation — map-side partial
    *    agg, constant per-key state, immune to Zipfian skew;
    *  - pass 2 collects posting lists ONLY for surviving shingles, so
    *    the per-shingle buffer and the quadratic pair expansion are both
    *    bounded by the cut (≤ dfCut·(dfCut−1)/2 pairs per shingle) —
    *    the property that makes all-pairs ngram viable at 100 TB;
    *  - the cut is corpus-adaptive with NO driver action: N rides in as
    *    a broadcast 1-row aggregate (integer N DIV 50, exact in both
    *    engines — float 0.02·N would round differently in DuckDB).
    *
    * Semantics: Jaccard over the RARE-shingle sets (df ≤ cut, df = 1
    * included in sizes) — the standard stop-shingle filtering, so a
    * verbatim duplicate pair still scores 1.0 when it has any rare
    * shingle, and boilerplate-only overlap scores 0. The shingle table
    * feeds the df agg, the df join, and the doc-size agg from one lazy
    * subplan (AQE stage reuse absorbs the copies — the measured-faster
    * shape from [[dedupNgram]]). */
  def dedupNgramDfcut(spark: SparkSession, dir: String): DataFrame =
    ngramDfcutPairs(corpus(spark, dir))

  /** The df-cut all-pairs kernel of [[dedupNgramDfcut]], over any
    * (doc_id, text) frame — split out so specs can pin the semantics
    * on constructed corpora (boilerplate-only overlap must score 0;
    * planted near-dups must survive the cut). */
  private[graft] def ngramDfcutPairs(base: DataFrame): DataFrame = {
    val docs = base.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val shingles = docs.filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i+1]))"))
        .as("shingle")).distinct()
    val nd = base.agg(count(lit(1)).as("nd"))
    val keptShingles = shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nd))
      .filter(col("df") <= greatest(lit(2L), expr("nd DIV 50")))
      .select("shingle", "df")
    // shuffle join on shingle: reuses the df aggregation's partitioning
    val kept = shingles.join(keptShingles, Seq("shingle"))
    val sizes = kept.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val pairs = kept.filter(col("df") >= 2)
      .groupBy("shingle").agg(collect_list(col("doc_id")).as("ds"))
      .select(explode(col("ds")).as("id_a"), col("ds"))
      .select(col("id_a"), explode(col("ds")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "inter", "jaccard")
      .orderBy("id_a", "id_b")
  }

  private val dedupNgramDfcutOracle = {
    val jac = "(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter))"
    s"""WITH corpus AS $corpusSql,
       |docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
       |shingles AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(generate_series(1, len(toks) - 1),
       |      i -> toks[i] || ' ' || toks[i+1])) AS shingle
       |  FROM docs),
       |nd AS (SELECT COUNT(*) AS nd FROM corpus),
       |df AS (SELECT shingle, COUNT(*) AS df FROM shingles GROUP BY 1),
       |kept AS (
       |  SELECT s.doc_id, s.shingle, df.df
       |  FROM shingles s JOIN df USING (shingle), nd
       |  WHERE df.df <= greatest(2, nd.nd // 50)),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
       |  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b, inter, ${rSql(jac, 4)} AS jaccard
       |FROM pairs JOIN sizes sa ON pairs.id_a = sa.doc_id
       |           JOIN sizes sb ON pairs.id_b = sb.doc_id
       |WHERE ${rSql(jac, 4)} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** MinHash + LSH banding near-dup candidates (the 100 TB path).
    * 16 permutations h_i(s) = (a_i·H(s) + b_i) mod p over word-bigram
    * shingles, banded 4×4; docs sharing any band bucket are candidates,
    * then verified by true Jaccard. H is the portable polynomial hash
    * (HashFunctions.polyHash) and band buckets fold with plain integer
    * arithmetic, so the ENTIRE pipeline — sketch, banding, candidate
    * join, verify — is replayed verbatim by the DuckDB oracle:
    * LSH pruning included, not just the verified survivors. */
  def dedupMinhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions
    val bands = bandBuckets(corpus(spark, dir))
    // Candidate pairs by ONE hash aggregation on bucket (r8, replacing
    // the band self-join): collect each bucket's (doc_id, sz) members,
    // drop singleton buckets BEFORE any pair expansion (the vast
    // majority — the join shuffled them twice and matched nothing),
    // then expand a.id < b.id pairs with two explodes. One exchange of
    // the 4n-row band table instead of two join sides — at 100 TB this
    // halves the operator's dominant shuffle. Per-bucket state is the
    // member list: bounded by bucket size, the same quantity that
    // already bounds the pair expansion quadratically, and minhash
    // buckets are uniform once the degenerate empty-sketch class is
    // filtered (the sz > 0 guard above). Candidate-derived sides below
    // are small but data-dependent — no forced broadcast(); AQE sizes
    // them at runtime.
    // Tracked in CacheScope: the cache must outlive this method (three
    // downstream branches read it) but not the operator RUN — the
    // runner (Verify/Bench/spec) frees it after forcing the result.
    // r13: this operator OPTS OUT of cached-plan AQE coalescing (back
    // to the Spark default) for its own caches. The coalescer is
    // bytes-driven, and this cached subplan is the one in the engine
    // whose cost is compute-dense per byte — the bucket→pair expansion
    // and the array_intersect verify do quadratic-in-bucket work over a
    // KB-sized frame, so coalescing its stages to one partition
    // serializes real compute (interleaved 4-way A/B at sf0.1:
    // 1.5–1.9 s with fixed cache partitioning vs 3.2–3.5 s coalesced,
    // both count variants — tools/profile_r13_minhash_ab.txt, last in
    // the tree at commit a428ae9). Spark
    // reads the key only when persist() registers a cache, and builds
    // the cached plan in a cloned session that keeps the value, so the
    // override holds around each persist alone and the caller's conf
    // is unchanged once this method returns.
    def persistUncoalesced(df: DataFrame): DataFrame =
      graft.CacheScope.withConf(spark,
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "false")(
        graft.CacheScope.track(df.persist()))
    // the (LSH-pruned, tiny) pair set materializes ONCE — the verify
    // phase below reads it from three branches, and at 100 TB nothing
    // upstream of it (the full band shuffle) may ever re-run. r13: no
    // separate eager count() — the candShingles materialization below
    // reads `cand` through candIds on its one path, so that single job
    // populates BOTH caches (one driver round-trip saved; the final
    // join's three branches then read only caches, exactly as before)
    val cand = persistUncoalesced(bandCandidates(bands))
    // verify candidates with true Jaccard — shingle SETS built ONLY for
    // candidate docs (the semi-join runs BEFORE tokenization, so the
    // split/shingle kernels see candidate rows, not the corpus). The
    // per-doc distinct-shingle ARRAY stays packed (never exploded):
    // the intersection is one codegen'd array_intersect per pair — an
    // O(|a|+|b|) hash probe — instead of the former pair×shingle
    // 3-way join + re-aggregation, which shuffled every matching
    // (pair, shingle) row. Profiled ~0.7 s faster at sf0.1, and at
    // 100 TB it removes the largest data-dependent shuffle of the
    // operator (candidate sides stay AQE-sized hash joins keyed on
    // doc id). Zero-intersection pairs fall out as size 0 — no left
    // join / fill needed.
    val candIds = cand.select(explode(array(col("id_a"), col("id_b"))).as("doc_id")).distinct()
    val candShingles = persistUncoalesced(
      corpus(spark, dir).join(candIds, Seq("doc_id"), "left_semi")
        .select(col("doc_id"),
          HashFunctions.shingleHashes(split(col("text"), " ")).as("shs")))
    // persist + eager count measured NECESSARY here (unlike the ngram
    // shingle subplan, where lazy + AQE reuse won): the two verify join
    // sides do NOT share an exchange at runtime, so the lazy variant
    // recomputes the semi-join + shingle kernel twice — an interleaved
    // A/B (graft.ProfileMinhash, last in the tree at commit 5ff44ba)
    // read ~1.7 s persisted vs ~2.1 s lazy at sf0.1.
    candShingles.count()
    cand
      .join(candShingles.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(candShingles.as("sb"), col("id_b") === col("sb.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sa.shs"), col("sb.shs"))).cast("long"))
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter"))))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
      .orderBy("id_a", "id_b")
  }

  /** (doc_id, sz, bucket) LSH band table for a (doc_id, text) document
    * set — the shared front half of [[dedupMinhash]] and the persisted
    * index path ([[writeMinhashIndex]] / [[dedupAgainstIndex]]).
    *
    * Whole 16-perm signature + distinct-shingle count per row at scan
    * time (native MinHashSketchExpr) — zero shuffles to build sketches;
    * the sketch stream is consumed by exactly ONE downstream exchange,
    * so it is never persisted. 4 bands of 4 rows via one explode. The
    * (band, 4 minhash values) tuple is folded into ONE 64-bit bucket
    * key by plain base-31 integer arithmetic (values < 2^31 keep the
    * fold < 2^47 — exact): an 8-byte shuffle key instead of a ~40-byte
    * "v1:v2:v3:v4" string — less shuffle volume and cheaper
    * hash/compare on the 4n-row band table, which at 100 TB is the
    * largest thing the minhash family shuffles — and, unlike xxhash64,
    * a fold DuckDB replays with the same arithmetic. The fold is
    * injective enough here (collisions only ADD candidates, which the
    * true-Jaccard verify filters), and bucket keys stay minhash-uniform
    * for the shuffle.
    *
    * sz > 0 guard: a doc with <2 tokens has no shingles — its sketch
    * is all-(-1), so every such doc would share every band bucket AND
    * its Jaccard would be 0/0 (NULL in Spark, NaN in DuckDB — the
    * engines disagree on the comparison). Excluding empty sketches
    * from banding (both engines, see minhashCtes) is also the right
    * semantics: an empty shingle set is similar to nothing. */
  private[graft] def bandBuckets(docs: DataFrame): DataFrame = {
    import graft.functions.HashFunctions
    bandsFromSig(docs.select(col("doc_id"),
      HashFunctions.minhashSketch(split(col("text"), " ")).as("sk")))
  }

  /** Banding half of [[bandBuckets]], from a (doc_id, sk) sketch table.
    * THE single definition of the on-disk band format (fold base, band
    * count, sz guard) — the repair path rebuilds bands through this
    * same function, so repaired rows can never drift from the format
    * the index was written with. */
  private def bandsFromSig(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until 4).map { bnd =>
      (0 until 4).foldLeft(lit(bnd.toLong): org.apache.spark.sql.Column)(
        (acc, r) => acc * 31L + col("sk").getItem(bnd * 4 + r))
    }
    sig.select(col("doc_id"), col("sk").getItem(16).as("sz"),
      explode(array(bandStructs: _*)).as("bucket"))
      .filter(col("sz") > 0)
  }

  /** Persist the minhash dedup index for a document set: `bands`
    * (doc_id, sz, bucket — the LSH candidate side) and `shingles`
    * (doc_id, distinct shingle-hash array — the exact-verify side) as
    * two VERSIONED snapshot tables under `path`
    * ([[Maintenance.snapshotSinkBatch]] commits, batch id 0). This is
    * the accumulated-corpus artifact a daily pipeline builds ONCE and
    * appends each day's slice to; [[dedupAgainstIndex]] then dedups any
    * new shard against it with ZERO recompute of historical text — the
    * historical documents are not even an input to the serve call. At
    * 100 TB, additionally land `bands` bucketed on `bucket` through the
    * catalog ([[graft.sources.Sources.writeBucketed]]) and the daily
    * candidate join runs shuffle-free on the index side.
    *
    * Consistency discipline (shared with [[appendToMinhashIndex]]):
    * shingles commit FIRST, bands derive FROM the just-committed
    * shingle rows (the durable parquet is the snapshot, so even a
    * nondeterministic source cannot produce bands that disagree with
    * the shingles the index stores), and serves cut BOTH tables at the
    * bands watermark — a crash between the two commits reads exactly
    * as if the write never ran, and the recovery is simply re-running
    * it (the committed half skips itself by batch id). */
  def writeMinhashIndex(spark: SparkSession, path: String, docs: DataFrame): Unit = {
    // a fresh build on an existing index would SKIP silently (batch 0
    // is already committed) — refuse loudly instead: increments go
    // through appendToMinhashIndex, a rebuild removes the path first
    require(
      graft.operators.Maintenance.snapshotVersions(spark, s"$path/shingles").isEmpty &&
        graft.operators.Maintenance.snapshotVersions(spark, s"$path/bands").isEmpty,
      s"a minhash index already exists at $path — append daily batches " +
        "with appendToMinhashIndex(batchId), or remove the path to rebuild")
    appendToMinhashIndex(spark, path, docs, batchId = 0L)
  }

  /** Append one batch (day) of documents to the minhash index — the
    * close of the daily loop: dedup today's shard with
    * [[dedupAgainstIndex]], then append the kept docs under today's
    * `batchId` so tomorrow's run sees them as history. Each table
    * commit is a snapshot append version: O(new docs), the accumulated
    * index is never rewritten, readers get snapshot isolation, and
    * [[compactMinhashIndex]] / [[Maintenance.vacuumSnapshots]]
    * manage the accumulating fragments (compaction goes through the
    * index-aware helper — see its doc for why raw compactSnapshot on
    * one table is unsafe mid-append).
    *
    * Exactly-once by batch id, per table: `batchId` must be strictly
    * increasing across the daily loop (day number, epoch day — anything
    * monotonic), and a re-delivered id is skipped BEFORE any write on
    * whichever table already committed it. Compact the accumulating
    * tables ONLY through [[compactMinhashIndex]] — raw compactSnapshot
    * on shingles alone inside a crash window would re-stamp the
    * half-appended batch's files above the bands watermark (see the
    * helper's doc). That aside, the two-table write is crash-safe
    * without a cross-table transaction:
    *
    *  - crash after shingles committed, before bands: the bands
    *    watermark still reads yesterday, and every serve cuts shingles
    *    AT the bands watermark — today's shingle files are planned out,
    *    the index serves exactly as if the append never ran (no
    *    invisible docs, no phantom candidates);
    *  - recovery is re-running the SAME append: shingles skip
    *    (committed id), bands derive from the shingle table's own
    *    batch-`batchId` files and commit — no repair tool, no anti-join
    *    probe, no special-cased write order beyond "shingles first".
    *
    * CONTRACT: each doc_id is appended at most once across all batches
    * (the daily loop appends only new survivors, whose ids are new by
    * construction) — a re-appended id would double its shingle rows and
    * inflate that doc's match counts in later serves. */
  def appendToMinhashIndex(spark: SparkSession, path: String, docs: DataFrame,
      batchId: Long): Unit = {
    import graft.functions.HashFunctions
    import graft.operators.Maintenance
    // SELF-HEAL before landing anything new: a previous append that
    // crashed between its two commits left shingle batches with no
    // bands version. They must be completed FIRST — landing batchId on
    // top would advance the bands watermark past them, putting their
    // shingle files inside every serve cut while their docs stay
    // band-invisible (silently missed duplicates), with nothing left to
    // detect it. The bands derive from the shingle table's own files,
    // so healing needs no source data.
    commitMissingBands(spark, path)
    Maintenance.snapshotSinkBatch(
      docs.select(col("doc_id"),
        HashFunctions.shingleHashes(split(col("text"), " ")).as("shs")),
      s"$path/shingles", batchId)
    // an all-empty batch commits no shingle version at all (sink
    // semantics) — then there is nothing to band either
    if (Maintenance.committedBatchIds(spark, s"$path/shingles").contains(batchId))
      commitBandsFor(spark, path, batchId)
  }

  /** Derive and commit the bands version for one committed shingle
    * batch. `allowEmpty`: a batch of shingle-less docs has no band rows
    * but MUST still advance the bands watermark — it is the serve cut
    * for BOTH tables, so a healthy index always converges to equal
    * watermarks (a skipped empty commit would leave them apart
    * forever, indistinguishable from a crash). */
  private def commitBandsFor(spark: SparkSession, path: String, id: Long): Unit = {
    import graft.functions.HashFunctions
    import graft.operators.Maintenance
    Maintenance.snapshotSinkBatch(
      bandsFromSig(Maintenance.readSnapshotBatch(spark, s"$path/shingles", id)
        .select(col("doc_id"),
          HashFunctions.minhashSketchFromHashes(col("shs")).as("sk"))),
      s"$path/bands", id, allowEmpty = true)
  }

  /** Complete every shingle batch whose bands never committed (in id
    * order — the watermark skip demands monotone commits). Returns how
    * many batches were healed. Idempotent; a consistent index heals
    * zero. */
  def commitMissingBands(spark: SparkSession, path: String): Long = {
    import graft.operators.Maintenance
    if (Maintenance.snapshotVersions(spark, s"$path/shingles").isEmpty) return 0L
    val wb = Maintenance.sinkBatchWatermark(spark, s"$path/bands")
    val pending = Maintenance.committedBatchIds(spark, s"$path/shingles")
      .filter(id => wb.forall(_ < id)).toSeq.sorted
    pending.foreach(commitBandsFor(spark, path, _))
    pending.size.toLong
  }

  /** Compact BOTH index tables — the ONLY safe way to run compaction on
    * a minhash index. Raw [[Maintenance.compactSnapshot]] on the
    * shingles table alone is hazardous inside an append's crash window:
    * compaction collapses per-file batch provenance to the table's own
    * high watermark, so shingle files of a batch whose BANDS never
    * committed would get re-stamped at that batch's id — above the
    * bands watermark, which plans out the ENTIRE shingle history at the
    * serve cut (silent zero-duplicate serves), and the batch's re-run
    * would re-band the whole corpus. This helper therefore REQUIRES the
    * two watermarks to be equal (no half-appended batch in flight —
    * re-run the crashed append first; the skip-by-id makes that safe),
    * then compacts both tables; with equal watermarks the provenance
    * collapse is harmless, because the serve cut `≤ watermark` keeps
    * every re-stamped file. Returns (shingles version, bands version). */
  def compactMinhashIndex(spark: SparkSession, path: String,
      targetBytes: Long): (Long, Long) = {
    import graft.operators.Maintenance
    // complete any crashed append first — with the missing bands
    // committed (empty batches included, via allowEmpty) the watermarks
    // of a healthy index are ALWAYS equal, so the invariant below is a
    // genuine in-flight-writer detector, not a livelock
    commitMissingBands(spark, path): Unit
    val ws = Maintenance.sinkBatchWatermark(spark, s"$path/shingles")
    val wb = Maintenance.sinkBatchWatermark(spark, s"$path/bands")
    require(ws == wb,
      s"minhash index at $path has an append in flight (shingles " +
        s"watermark $ws, bands watermark $wb even after healing) — " +
        "wait for the writer, then compact")
    (Maintenance.compactSnapshot(spark, s"$path/shingles", targetBytes),
      Maintenance.compactSnapshot(spark, s"$path/bands", targetBytes))
  }

  /** Dedup a NEW document shard against a persisted [[writeMinhashIndex]]
    * index — the incremental (daily) form of [[dedupMinhash]]: work is
    * O(new shard + matched candidates), never O(corpus). The signature
    * takes only (indexPath, newDocs): historical text is structurally
    * unavailable, so nothing can re-derive it (Round8Spec serves from an
    * index whose source frame was never registered anywhere).
    *
    * Join shape: new-side bands join index bands on the 8-byte bucket
    * key. The new side is one day — AQE broadcasts it at gate scale; at
    * 100 TB the index side is catalog-bucketed on `bucket` (see
    * [[writeMinhashIndex]]) so history is scanned, never shuffled.
    * Verify loads shingle arrays ONLY for matched candidates on both
    * sides (semi-joins before any array materializes), then one
    * codegen'd array_intersect per pair. Output: per new doc, how many
    * historical near-dups it has and the strongest one.
    *
    * Consistency: both index tables are read as a CUT at the bands
    * watermark ([[Maintenance.readSnapshotUpToBatch]]) — shingle files
    * from a batch whose bands never committed (a crashed append) are
    * planned out, so a half-appended day is invisible rather than
    * half-visible. */
  def dedupAgainstIndex(spark: SparkSession, indexPath: String,
      newDocs: DataFrame): DataFrame = {
    import graft.functions.HashFunctions
    import graft.operators.Maintenance
    // a mistyped / nonexistent / pre-snapshot-era path must THROW, not
    // serve the empty match set — a silent zero-duplicate serve is the
    // worst failure this index has. Only a genuinely band-less index
    // (bands committed but before any bandable batch — the crash
    // window before the first heal) legitimately matches nothing.
    require(Maintenance.snapshotVersions(spark, s"$indexPath/shingles").nonEmpty,
      s"no minhash index at $indexPath (no committed shingle versions — " +
        "check the path; pre-r10 plain-parquet indexes must be rebuilt " +
        "through writeMinhashIndex)")
    val watermark = Maintenance.sinkBatchWatermark(spark, s"$indexPath/bands")
      .getOrElse(
        return newDocs.select(col("doc_id").as("new_id"),
          lit(0L).as("n_hist_matches"), lit(0.0).as("max_jaccard"))
          .filter(lit(false)))
    val idxBands = Maintenance.readSnapshotUpToBatch(spark, s"$indexPath/bands",
      watermark)
    val cand = graft.CacheScope.track(bandBuckets(newDocs).as("n")
      .join(idxBands.as("h"), col("n.bucket") === col("h.bucket"))
      .select(col("n.doc_id").as("new_id"), col("n.sz").as("sz_n"),
        col("h.doc_id").as("hist_id"), col("h.sz").as("sz_h"))
      .distinct().persist())
    // materialize the (LSH-pruned, tiny) candidate set once — three
    // branches below read it, and the band join must never re-run
    cand.count()
    val newSh = newDocs
      .join(cand.select(col("new_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        HashFunctions.shingleHashes(split(col("text"), " ")).as("shs"))
    val histSh = Maintenance.readSnapshotUpToBatch(spark, s"$indexPath/shingles",
        watermark)
      .join(cand.select(col("hist_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
    cand
      .join(newSh.as("sn"), col("new_id") === col("sn.doc_id"))
      .join(histSh.as("sh"), col("hist_id") === col("sh.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("sn.shs"), col("sh.shs"))).cast("long"))
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("sz_n") + col("sz_h") - col("inter"))))
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_hist_matches"), max("jaccard").as("max_jaccard"))
      .orderBy("new_id")
  }

  /** Driver-visible incremental-dedup query: history = documents with
    * doc_id % 4 ≠ 1; today's shard = the held-out % 4 = 1 docs (clean)
    * ∪ re-keyed copies of every 8th doc (planted dups of history). The
    * full index lifecycle runs inside the query — build + persist the
    * history index, then serve the shard against the reloaded artifacts
    * (the q_ann_serve / bpeEncodeWith pattern applied to dedup). */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val hist = d.filter(col("doc_id") % 4 =!= 1).select(col("doc_id"), col("text"))
    val fresh = d.filter(col("doc_id") % 4 === 1).select(col("doc_id"), col("text"))
      .unionAll(d.filter(col("doc_id") % 8 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
    val stage = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_mh_index_${java.util.UUID.randomUUID().toString.take(8)}")
    // cleanup registered BEFORE the write: a mid-write throw must not
    // leak the staging dir (the Maintenance.compactFiles ordering)
    graft.CacheScope.defer(() => graft.sources.Sources.deleteRecursively(stage))
    writeMinhashIndex(spark, stage.getAbsolutePath, hist)
    dedupAgainstIndex(spark, stage.getAbsolutePath, fresh)
  }

  private val dedupIncrementalOracle = {
    val jac = "(CAST(inter AS DOUBLE) / (sz_n + sz_h - inter))"
    s"""WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 1),
       |newdocs AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 8 = 0),
       |${minhashCtes("h", "hist")},
       |${minhashCtes("n", "newdocs")},
       |cand AS (
       |  SELECT DISTINCT n.doc_id AS new_id, n.sz AS sz_n,
       |    h.doc_id AS hist_id, h.sz AS sz_h
       |  FROM bands_n n JOIN bands_h h ON n.bucket = h.bucket),
       |inter AS (
       |  SELECT new_id, hist_id, sz_n, sz_h,
       |    len(list_intersect(dn.dh, dhh.dh)) AS inter
       |  FROM cand
       |  JOIN docsh_n dn ON cand.new_id = dn.doc_id
       |  JOIN docsh_h dhh ON cand.hist_id = dhh.doc_id)
       |SELECT new_id, COUNT(*) AS n_hist_matches, MAX(${rSql(jac, 4)}) AS max_jaccard
       |FROM inter WHERE ${rSql(jac, 4)} >= 0.5
       |GROUP BY new_id ORDER BY new_id""".stripMargin
  }

  /** Distinct candidate pairs from a (doc_id, sz, bucket) band table —
    * the bucket-grouped kernel behind [[dedupMinhash]]: one hash
    * aggregation on bucket, singleton buckets pruned before the
    * two-explode pair expansion, a.id < b.id, distinct across buckets.
    * Equal BY CONSTRUCTION to the band self-join formulation
    * (Round8Spec pins the equivalence on random band tables). */
  private[graft] def bandCandidates(bands: DataFrame): DataFrame =
    bands
      .groupBy("bucket")
      .agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(explode(col("ds")).as("a"), col("ds"))
      .select(col("a"), explode(col("ds")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("a.sz").as("sz_a"),
        col("b.doc_id").as("id_b"), col("b.sz").as("sz_b")).distinct()

  /** CTE text replaying sketch+banding for one doc set: docsh_N
    * (distinct shingle hashes), sig_N (sz + 16 minhashes), bands_N
    * (4 folded band buckets per doc). Mirrors HashFunctions.sketch and
    * the base-31 band fold exactly. */
  private def minhashCtes(tag: String, srcSql: String): String = {
    import graft.functions.HashFunctions.{P, perms, polyHashSql}
    val mh = perms.map { case (a, b) =>
      s"COALESCE(list_min(list_transform(dh, mh_h -> (mh_h * $a + $b) % $P)), -1)"
    }.mkString(",\n      ")
    val buckets = (0 until 4).map { bnd =>
      (0 until 4).foldLeft(s"CAST($bnd AS BIGINT)")(
        (acc, r) => s"($acc * 31 + mh[${bnd * 4 + r + 1}])")
    }.mkString(", ")
    s"""docsh_$tag AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(generate_series(1, len(string_split(text, ' ')) - 1),
       |      sh_i -> string_split(text, ' ')[sh_i] || ' ' || string_split(text, ' ')[sh_i + 1]),
       |    sh_s -> ${polyHashSql("sh_s")})) AS dh
       |  FROM $srcSql),
       |sig_$tag AS (
       |  SELECT doc_id, dh, len(dh) AS sz,
       |    [$mh] AS mh
       |  FROM docsh_$tag),
       |bands_$tag AS (
       |  SELECT doc_id, sz, unnest([$buckets]) AS bucket FROM sig_$tag WHERE sz > 0)""".stripMargin
  }

  private val dedupMinhashOracle = {
    val jac = "(CAST(inter AS DOUBLE) / (sz_a + sz_b - inter))"
    s"""WITH corpus AS $corpusSql,
       |${minhashCtes("c", "corpus")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, a.sz AS sz_a, b.doc_id AS id_b, b.sz AS sz_b
       |  FROM bands_c a JOIN bands_c b
       |    ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT id_a, id_b, sz_a, sz_b,
       |    len(list_intersect(da.dh, db.dh)) AS inter
       |  FROM cand
       |  JOIN docsh_c da ON cand.id_a = da.doc_id
       |  JOIN docsh_c db ON cand.id_b = db.doc_id)
       |SELECT id_a, id_b, ${rSql(jac, 4)} AS jaccard
       |FROM inter WHERE ${rSql(jac, 4)} >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }

  private val fuzzyDecontamOracle = {
    val jac = "(CAST(inter AS DOUBLE) / (sz_t + sz_e - inter))"
    s"""WITH corpus AS $corpusSql,
       |evaldocs AS (SELECT doc_id, text FROM documents WHERE doc_id % 25 = 0),
       |${minhashCtes("t", "corpus")},
       |${minhashCtes("e", "evaldocs")},
       |cand AS (
       |  SELECT DISTINCT t.doc_id AS train_id, t.sz AS sz_t,
       |    e.doc_id AS eval_id, e.sz AS sz_e
       |  FROM bands_t t JOIN bands_e e
       |    ON t.bucket = e.bucket AND t.doc_id <> e.doc_id),
       |inter AS (
       |  SELECT train_id, eval_id, sz_t, sz_e,
       |    len(list_intersect(dt.dh, de.dh)) AS inter
       |  FROM cand
       |  JOIN docsh_t dt ON cand.train_id = dt.doc_id
       |  JOIN docsh_e de ON cand.eval_id = de.doc_id)
       |SELECT train_id, COUNT(*) AS n_eval_matches,
       |  MAX(${rSql(jac, 4)}) AS max_jaccard
       |FROM inter WHERE ${rSql(jac, 4)} >= 0.3
       |GROUP BY train_id ORDER BY train_id""".stripMargin
  }

  /** 62-bit SimHash near-dup: per-token bit votes → signature;
    * candidates via 4×16-bit band buckets; emit pairs with Hamming
    * distance ≤ 6. The per-token bit source packs TWO independent
    * portable polynomial hashes (different seed/multiplier) into one
    * long — h64 = p1·2³¹ + p2 — so, like [[dedupMinhash]], the whole
    * pipeline (votes, signature, banding, Hamming) is pure integer
    * arithmetic the DuckDB oracle replays verbatim. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions.polyHashCol
    val docs = corpus(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .withColumn("h64",
        shiftleft(polyHashCol(col("tok"), 7L, 1000003L), 31) +
          polyHashCol(col("tok"), 11L, 1000033L))
    // bit votes: for each of 64 bits, +1 if set else -1; sign of sum
    val bitCols = (0 until 64).map { i =>
      sum(when(expr(s"shiftright(h64, $i) % 2 != 0"), 1).otherwise(-1)).as(s"b$i")
    }
    val sig = docs.groupBy("doc_id").agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i => when(col(s"b$i") > 0,
          expr(s"shiftleft(1L, $i)")).otherwise(0L))
          .reduce(_ + _).as("simhash"))
    val bands = (0 until 4).map { b =>
      sig.select(col("doc_id"), col("simhash"), lit(b).as("band"),
        expr(s"shiftright(simhash, ${b * 16}) & 65535").as("bucket"))
    }.reduce(_ unionAll _)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").cast("long").as("hamming")).distinct()
      .filter(col("hamming") <= 6)
      .orderBy("id_a", "id_b")
  }

  private val dedupSimhashOracle = {
    import graft.functions.HashFunctions.polyHashSql
    val voteCols = (0 until 64).map(i =>
      s"SUM(CASE WHEN (h64 >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i")
      .mkString(",\n    ")
    val sigExpr = (0 until 64).map(i =>
      s"(CASE WHEN b$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    val bandSelects = (0 until 4).map(b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 16}) & 65535 AS bucket FROM sig")
      .mkString("\n  UNION ALL\n  ")
    s"""WITH corpus AS $corpusSql,
       |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus),
       |th AS (
       |  SELECT doc_id,
       |    (${polyHashSql("tok", 7L, 1000003L)} << 31) +
       |      ${polyHashSql("tok", 11L, 1000033L)} AS h64
       |  FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $voteCols
       |  FROM th GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS simhash FROM votes),
       |bands AS (
       |  $bandSelects)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
       |WHERE CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) <= 6
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Embedding-cosine near-dup: sign-LSH bucket on 8 deterministic
    * Rademacher hyperplanes, then exact cosine ≥ 0.9 within buckets.
    * The hyperplane signs come from the same portable-LCG mid-bits as
    * q_random_projection (Similarity.scala) — pure integer arithmetic
    * — so bucketing AND the cosine verify are fully oracle-replayed. */
  def dedupEmbed(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    // random embeddings have no natural near-dups: exercise the operator
    // on base ∪ re-keyed copies of every 20th vector (cosine exactly 1)
    val emb = base.unionAll(base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
    // hyperplane component j of plane k: ±1 from LCG((k·64 + j)) mid
    // bits, precomputed driver-side into the codegen'd dot kernel
    val bucketBits = (0 until 8).map { k =>
      val dot = graft.functions.VectorFunctions.rademacherDot(col("embedding"), k)
      when(dot >= 0, expr(s"shiftleft(1L, $k)")).otherwise(0L)
    }
    val bucketed = emb.withColumn("bucket", bucketBits.reduce(_ + _))
      .withColumn("norm", graft.functions.VectorFunctions.norm(col("embedding")))
    bucketed.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos", r4(
        graft.functions.VectorFunctions.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.norm") * col("b.norm"))))
      .filter(col("cos") >= 0.9)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"), col("cos"))
      .orderBy("id_a", "id_b")
  }

  private val dedupEmbedOracle = {
    def dotK(k: Int) =
      s"""list_sum(list_transform(generate_series(0, len(embedding) - 1),
         |      hp_j -> CAST(embedding[hp_j + 1] AS DOUBLE) *
         |        (CASE WHEN ((CAST(1103515245 AS BIGINT) * CAST($k * 64 + hp_j AS BIGINT) + 12345) // 1024) % 2 = 0
         |         THEN 1.0 ELSE -1.0 END)))""".stripMargin
    val bucket = (0 until 8).map(k =>
      s"(CASE WHEN ${dotK(k)} >= 0 THEN (CAST(1 AS BIGINT) << $k) ELSE CAST(0 AS BIGINT) END)")
      .mkString("\n    + ")
    val cos = "(list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "cz -> CAST(cz[1] AS DOUBLE) * CAST(cz[2] AS DOUBLE))) / (a.nrm * b.nrm))"
    s"""WITH emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
       |sig AS (
       |  SELECT vec_id, embedding,
       |    $bucket AS bucket,
       |    sqrt(list_sum(list_transform(embedding, nx -> CAST(nx AS DOUBLE) * CAST(nx AS DOUBLE)))) AS nrm
       |  FROM emb)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${rSql(cos, 4)} AS cos
       |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${rSql(cos, 4)} >= 0.9
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Connected components over an undirected edge list by min-label
    * propagation WITH pointer jumping (the hash-to-min family): each
    * round every node adopts the minimum of its own label, its
    * neighbors' labels, and its label's label (the jump — label chains
    * contract by path halving). Neighbor-min alone converges in
    * O(diameter) rounds; the jump makes it O(log diameter), which at
    * corpus scale is the difference between ~50 global barriers and
    * ~7 on a chain-shaped dup cluster. Fixpoint is unchanged: labels
    * only decrease, always hold a member node's id, and at fixpoint
    * are neighborhood- and chain-stable, i.e. the component minimum.
    *
    * Round shape: the three message sets (neighbor, self, jump) union
    * into ONE min-aggregation — no per-round left join. Convergence
    * (r8): each node's OLD label rides the aggregation (the self
    * message is tagged, max-over-tag recovers it), and the observed
    * metric is the count of nodes whose label DECREASED this round —
    * zero means THIS round already was the fixpoint, so the loop exits
    * at the first stable round instead of paying one more
    * checkpoint+barrier to see an unchanged Σ labels (the previous
    * scheme). One global barrier saved per CC run — per DAY at the
    * reference's daily cadence — and proportionally more at tiny
    * scale, where the fixed per-round cost dominates.
    *
    * Plan/cache discipline: the symmetrized edge list is persisted
    * ONCE (it is read every round, and transitively re-running the
    * pair-discovery subplan each round is the dominant cost
    * otherwise); each round's labels are checkpointed through
    * [[graft.CacheScope.checkpoint]] — the plan stays constant-size
    * (unrolled lineage previously made Catalyst analysis the per-round
    * bottleneck, superlinear in round number), and the superseded
    * generation is freed as soon as the new checkpoint materializes (a
    * checkpoint has no lineage, so nothing can reference the old one).
    *
    * Cluster mode: by default generations localCheckpoint (executor
    * blocks — fast, but unrecoverable if an executor dies mid-job); on
    * a real cluster set `spark.graft.checkpointDir` to an HDFS/object-
    * store path and every generation goes through RELIABLE
    * `Dataset.checkpoint`, so an hours-long 100 TB CC run survives
    * executor loss. Same results, same retirement discipline
    * (spec-pinned in Round7Spec). */
  def connectedComponents(edges: DataFrame, maxIters: Int = 20): DataFrame = {
    // r12 (guide §2.4): sym is joined on dst every round — persist it
    // PRE-PARTITIONED on the join key so no round re-shuffles the 2|E|
    // edge rows (the labels side still exchanges, but it is the small
    // side; at 100 TB the edge list is the heavy one). r13: size-gated,
    // see [[Adaptive.copartitionByKey]].
    val sym = graft.CacheScope.track(
      Adaptive.copartitionByKey(
        edges.select(col("src"), col("dst"))
          .unionAll(edges.select(col("dst").as("src"), col("src").as("dst"))),
        col("dst"))
        .persist())
    // seed labels at min(self, min neighbor) — exactly the state a
    // first identity-seeded round would produce, for the same single
    // shuffle a distinct() would cost: one full round (checkpoint +
    // probe) never runs
    var labels = sym.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("mn"))
      .select(col("node"), least(col("node"), col("mn")).as("component"))
      .graftCheckpoint()
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      val nbr = sym.join(labels, sym("dst") === labels("node"))
        .select(sym("src").as("node"), col("component"), lit(0L).as("self"))
      val par = labels.select(col("node").as("pn"), col("component").as("pc"))
      val jump = labels.join(par, labels("component") === par("pn"))
        .select(labels("node"), col("pc").as("component"), lit(0L).as("self"))
      // the convergence probe rides the checkpoint materialization via
      // observe() — one job per round, not two; the tagged self message
      // carries each node's OLD label through the min-aggregation so
      // "how many labels decreased" is observable in the SAME pass
      val obs = org.apache.spark.sql.Observation(s"cc_round_${i}_${System.nanoTime()}")
      val updated = nbr
        .unionAll(labels.withColumn("self", lit(1L)))
        .unionAll(jump)
        .groupBy("node").agg(
          min("component").as("component"),
          max(when(col("self") === 1L, col("component"))).as("old"))
        .observe(obs, sum((col("component") < col("old")).cast("long")).as("chg"))
        .select("node", "component")
        .graftCheckpoint()
      // null chg = zero-row labels (empty edge list): trivially converged
      val chg = Option(obs.get("chg")).map(_.asInstanceOf[Long]).getOrElse(0L)
      graft.CacheScope.freeCheckpoint(labels)
      labels = updated
      converged = chg == 0L
      i += 1
    }
    labels
  }

  /** Near-dup cluster collapse: components over the n-gram Jaccard
    * pair list, with cluster sizes. Oracle = DuckDB recursive CTE
    * (min reachable id per node — the same fixpoint). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgram(spark, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    connectedComponents(pairs)
      .groupBy("component")
      .agg(count(lit(1)).as("cluster_size"),
        max("node").as("max_node"))
      .orderBy("component")
  }

  /** Shared CTE chain: the q_dedup_ngram pair list → undirected edges →
    * min-reachable-id per node (`labeled(node, component)`). Used by the
    * clusters and keep-best oracles so the component labeling can never
    * diverge between them. Starts with WITH RECURSIVE. */
  private val ccLabeledCtes = {
    val pairsSql =
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents WHERE doc_id % 20 = 0),
        |shingles AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1])) AS shingle
        |  FROM docs),
        |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shingles GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ic
        |  FROM shingles a JOIN shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (
        |  SELECT id_a, id_b FROM inter
        |  JOIN sizes sa ON inter.id_a = sa.doc_id
        |  JOIN sizes sb ON inter.id_b = sb.doc_id
        |  WHERE (sign(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic)) * floor(abs(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic)) * 1e4 + 0.5) / 1e4) >= 0.06),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs),
        |nodes AS (SELECT DISTINCT src AS node FROM edges),""".stripMargin
    s"""$pairsSql
       |reach(node, label) AS (
       |  SELECT node, node AS label FROM nodes
       |  UNION
       |  SELECT e.src AS node, r.label
       |  FROM reach r JOIN edges e ON r.node = e.dst),
       |labeled AS (SELECT node, MIN(label) AS component FROM reach GROUP BY node)""".stripMargin
      .replaceFirst("WITH docs", "WITH RECURSIVE docs")
  }

  private val dedupClustersOracle =
    s"""$ccLabeledCtes
       |SELECT component, COUNT(*) AS cluster_size, MAX(node) AS max_node
       |FROM labeled GROUP BY 1 ORDER BY component""".stripMargin

  private val dedupKeepBestOracle =
    s"""$ccLabeledCtes,
       |ranked AS (
       |  SELECT component, node, n_chars,
       |    ROW_NUMBER() OVER (PARTITION BY component ORDER BY n_chars DESC, node) AS rk,
       |    COUNT(*) OVER (PARTITION BY component) AS cluster_size
       |  FROM labeled JOIN documents d ON labeled.node = d.doc_id)
       |SELECT component, cluster_size, node AS keep_id, n_chars AS keep_chars,
       |  cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rk = 1 ORDER BY component""".stripMargin

  /** Leakage-safe train/val/test split: members of one near-dup
    * cluster MUST land in the same split, or val/test leaks training
    * content (the standard eval-integrity failure in LLM data prep).
    * Each document's split is decided by its cluster REPRESENTATIVE
    * (CC min-label for near-dup docs, own id for singletons), mixed
    * through the same two-round 31-bit LCG as q_permutation (portable
    * integer arithmetic → oracle-backed), 80/10/10.
    *
    * Scale: CC runs only on the near-dup edge list (pair-bounded); the
    * corpus-wide work is one left join of docs to the (tiny) cluster
    * label table plus scan-local integer mixing. */
  /** Representative selection — the step that turns near-dup CLUSTERS
    * into the deduplicated CORPUS: per connected component, keep the
    * longest document (ties to the lowest doc_id) and count the drops.
    * "Longest wins" is the standard representative heuristic when no
    * model-based quality score is in the loop; swapping the ORDER BY
    * for a quality column is a one-line change. One shuffle on
    * component (rank and size share the same window partition), after
    * the same pair→CC chain as [[dedupClusters]]; at 100 TB the
    * component key is near-uniform (clusters are small by
    * construction — LSH candidates verified at high Jaccard), so the
    * window never sees a hot partition. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgram(spark, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val joined = connectedComponents(pairs)
      .join(docs, col("node") === col("doc_id"))
    val byComp = Window.partitionBy("component")
    joined
      .withColumn("rk", row_number().over(
        byComp.orderBy(col("n_chars").desc, col("node"))))
      .withColumn("cluster_size", count(lit(1)).over(byComp))
      .filter(col("rk") === 1)
      .select(col("component"), col("cluster_size"),
        col("node").as("keep_id"), col("n_chars").as("keep_chars"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("component")
  }

  def splitSafe(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupNgram(spark, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("component"))
    val mixed = Tables.documents(spark, dir).select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("component"), col("doc_id")))
      .withColumn("mix", expr(
        "((((rep % 2147483648) * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345) % 2147483648 % 10"))
    mixed.select(col("doc_id"), col("rep"),
      when(col("mix") < 8, "train").when(col("mix") === 8, "val")
        .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  private val splitSafeOracle = {
    // reuse the recursive-CTE cluster labeling over the ngram pairs
    val clusterCte = dedupClustersOracle
      .substring(0, dedupClustersOracle.indexOf("SELECT component,")).trim
    s"""$clusterCte,
       |mixed AS (
       |  SELECT d.doc_id, COALESCE(l.component, d.doc_id) AS rep,
       |    ((((COALESCE(l.component, d.doc_id) % 2147483648) * 1103515245 + 12345) % 2147483648) * 1103515245 + 12345) % 2147483648 % 10 AS mix
       |  FROM documents d LEFT JOIN labeled l ON d.doc_id = l.node)
       |SELECT doc_id, rep,
       |  CASE WHEN mix < 8 THEN 'train' WHEN mix = 8 THEN 'val' ELSE 'test' END AS split
       |FROM mixed ORDER BY doc_id""".stripMargin
  }

  /** Fuzzy benchmark decontamination — the MinHash/LSH companion to
    * TextAnalysis.decontaminate: verbatim 8-gram overlap misses
    * lightly-edited eval leaks, so match TRAINING docs against the
    * eval slice (doc_id % 25 == 0, the same held-out set q_decontam
    * uses) via banded minhash candidates verified with true Jaccard
    * ≥ 0.3. Per flagged training doc: how many eval docs it collides
    * with and the strongest overlap.
    *
    * Scale: the eval side is benchmark-sized BY CONSTRUCTION (eval
    * suites are thousands of docs, not billions), so its bands and
    * shingle table are explicitly broadcast — the corpus side streams
    * through both joins with no shuffle of the corpus itself; the
    * only corpus-wide work is the two scan-local sketch/shingle
    * passes. Portable polynomial hashing end-to-end (see
    * [[dedupMinhash]]) — the oracle replays sketch, banding and
    * verify verbatim. */
  def fuzzyDecontam(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.HashFunctions
    val evalDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 25 === 0).select(col("doc_id"), col("text"))
    val cand = graft.CacheScope.track(bandBuckets(corpus(spark, dir)).as("t")
      .join(broadcast(bandBuckets(evalDocs).as("e")),
        col("t.bucket") === col("e.bucket") &&
          col("t.doc_id") =!= col("e.doc_id"))
      .select(col("t.doc_id").as("train_id"), col("t.sz").as("sz_t"),
        col("e.doc_id").as("eval_id"), col("e.sz").as("sz_e")).distinct()
      .persist())
    cand.count()
    // packed-set intersection per candidate pair (the dedupMinhash
    // rewrite): per-doc distinct-shingle ARRAYS, one codegen'd
    // array_intersect probe per pair — no (pair, shingle) shuffle, no
    // left join for empty intersections. The eval side is benchmark-
    // sized, so its array table broadcasts.
    val trainSh = corpus(spark, dir)
      .join(cand.select(col("train_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        HashFunctions.shingleHashes(split(col("text"), " ")).as("shs"))
    val evalSh = evalDocs
      .join(cand.select(col("eval_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), HashFunctions.shingleHashes(split(col("text"), " ")).as("shs"))
    cand
      .join(trainSh.as("st"), col("train_id") === col("st.doc_id"))
      .join(broadcast(evalSh.as("se")), col("eval_id") === col("se.doc_id"))
      .withColumn("inter",
        size(array_intersect(col("st.shs"), col("se.shs"))).cast("long"))
      .withColumn("jaccard", r4(col("inter").cast("double") /
        (col("sz_t") + col("sz_e") - col("inter"))))
      .filter(col("jaccard") >= 0.3)
      .groupBy("train_id")
      .agg(count(lit(1)).as("n_eval_matches"), max("jaccard").as("max_jaccard"))
      .orderBy("train_id")
  }

  // ------------------------------------------ edit-distance blocked linkage

  /** Blocked record linkage by edit distance: near-identical part names
    * found as levenshtein ≤ 3 pairs — the classic fuzzy-matching pass
    * for entity resolution (product names, merchant names, addresses)
    * that shingle-based dedup misses when strings are short.
    *
    * Scale shape (the record-linkage canon): (1) collapse rows to the
    * DISTINCT value vocabulary with counts first — edit distance runs on
    * |vocab|, never |rows|; (2) block on a cheap stable key (here the
    * head noun = last token) so the pair space is Σ|block|², not
    * |vocab|²; (3) a length-difference lower bound (|len_a − len_b| ≤ 3
    * ⇒ necessary for dist ≤ 3) prunes before the O(len²) DP runs.
    * At 100 TB the same plan holds: vocabulary tables are tiny relative
    * to the fact table, and multi-key blocking (noun + soundex + length
    * band) bounds any skewed block.
    *
    * Both engines' `levenshtein` is the exact integer DP, so the verify
    * phase is oracle-replayed verbatim. */
  def editBlocking(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.part(spark, dir)
      .groupBy("p_name").agg(count(lit(1)).as("n"))
      .select(col("p_name"), col("n"),
        element_at(split(col("p_name"), " "), -1).as("blk"),
        length(col("p_name")).as("len"))
    val a = vocab.select(col("p_name").as("name_a"), col("n").as("n_a"),
      col("blk"), col("len").as("len_a"))
    val b = vocab.select(col("p_name").as("name_b"), col("n").as("n_b"),
      col("blk"), col("len").as("len_b"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b") &&
        abs(col("len_a") - col("len_b")) <= 3)
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
      .filter(col("dist") <= 3)
      .select("name_a", "name_b", "dist", "n_a", "n_b")
      .orderBy("name_a", "name_b")
  }

  private val editBlockingOracle =
    """WITH vocab AS (
      |  SELECT p_name, COUNT(*) AS n,
      |    split_part(p_name, ' ', -1) AS blk,
      |    length(p_name) AS len
      |  FROM part GROUP BY 1)
      |SELECT a.p_name AS name_a, b.p_name AS name_b,
      |  levenshtein(a.p_name, b.p_name) AS dist, a.n AS n_a, b.n AS n_b
      |FROM vocab a JOIN vocab b
      |  ON a.blk = b.blk AND a.p_name < b.p_name
      |  AND abs(a.len - b.len) <= 3
      |WHERE levenshtein(a.p_name, b.p_name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  /** LSH index health: the bucket-cardinality histogram of the band
    * table, with each size's candidate-pair load. Hot buckets are THE
    * skew hazard of every minhash candidate join at 100 TB — a single
    * bucket of n docs contributes n·(n−1)/2 pairs, so the pair
    * expansion is quadratic in the largest bucket while the shuffle is
    * linear in rows. This is the diagnostic that decides WHEN to act
    * (salt the hot keys, add a document-frequency cut, or re-band):
    * run it on the accumulated index before the daily join, and alert
    * on pair_load concentration in the tail. One hash aggregation on
    * bucket + one tiny re-aggregation on the size — no joins, no
    * skew exposure of its own. */
  def indexStats(spark: SparkSession, dir: String): DataFrame =
    bandBuckets(corpus(spark, dir))
      .groupBy("bucket").agg(count(lit(1)).as("bucket_size"))
      .groupBy("bucket_size").agg(count(lit(1)).as("n_buckets"))
      .withColumn("pair_load",
        expr("(bucket_size * (bucket_size - 1)) DIV 2 * n_buckets"))
      .orderBy("bucket_size")

  private val indexStatsOracle =
    s"""WITH corpus AS $corpusSql,
       |${minhashCtes("s", "corpus")},
       |bsz AS (SELECT bucket, COUNT(*) AS bucket_size FROM bands_s GROUP BY bucket)
       |SELECT bucket_size, COUNT(*) AS n_buckets,
       |  ((bucket_size * (bucket_size - 1)) // 2) * COUNT(*) AS pair_load
       |FROM bsz GROUP BY bucket_size ORDER BY bucket_size""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q_dedup_exact", dedupExact, Some(dedupExactOracle), headline = true),
    Op("q_edit_blocking", editBlocking, Some(editBlockingOracle)),
    Op("q_decontam_fuzzy", fuzzyDecontam, Some(fuzzyDecontamOracle)),
    Op("q_dedup_clusters", dedupClusters, Some(dedupClustersOracle), headline = true),
    Op("q_dedup_keep_best", dedupKeepBest, Some(dedupKeepBestOracle)),
    Op("q_split_safe", splitSafe, Some(splitSafeOracle)),
    Op("q_dedup_ngram", dedupNgram, Some(dedupNgramOracle)),
    Op("q_dedup_ngram_dfcut", dedupNgramDfcut, Some(dedupNgramDfcutOracle)),
    Op("q_dedup_minhash", dedupMinhash, Some(dedupMinhashOracle), headline = true),
    Op("q_dedup_incremental", dedupIncremental, Some(dedupIncrementalOracle)),
    Op("q_dedup_simhash", dedupSimhash, Some(dedupSimhashOracle)),
    Op("q_dedup_embed", dedupEmbed, Some(dedupEmbedOracle)),
    Op("q_index_stats", indexStats, Some(indexStatsOracle)),
  )
}
