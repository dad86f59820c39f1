package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, StructType}
import scala.jdk.CollectionConverters._

import graft.Tables

/** Structured-Streaming surface over the events table: windowed
  * aggregation with watermarks and stateful gap-based sessionization.
  *
  * Design: every operator is a transform over a DataFrame/Dataset, so the
  * SAME code runs in batch (on `Tables.events`) and streaming (on
  * `readStream`/MemoryStream). The batch sessionization is also expressed
  * as a classic gaps-and-islands window query ([[sessionizeBatch]]) —
  * SQL-expressible, so it's the DuckDB-oracled `SparkEntry` query; the
  * stateful `flatMapGroupsWithState` variant is spec-tested to produce
  * identical sessions.
  *
  * Scale notes: sessionization state is per-user (keyed state store,
  * partitioned by user_id); watermark bounds state size — without it the
  * store grows forever. The windowed agg shuffles once on
  * (window, event_type) after partial aggregation. */
object EventStream {

  val SessionGapMinutes = 10L
  private val gapMicros = SessionGapMinutes * 60L * 1000000L

  case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  case class SessionOut(user_id: Long, session_idx: Int, start_us: Long,
      end_us: Long, n_events: Int, sum_value: Double)

  // ------------------------------------------------------------------
  // windowed aggregation (same expression, batch or stream)
  // ------------------------------------------------------------------

  /** 1-hour tumbling windows by event type. On a streaming input add
    * [[withWatermark]] first; on batch it behaves like a plain groupBy. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming variant with a 30-minute watermark (late events beyond it
    * are dropped; state for closed windows is evicted). */
  def windowedCountsStream(events: DataFrame): DataFrame =
    windowedCounts(events.withWatermark("ts", "30 minutes"))

  /** Driver-surface WATERMARKED windowed aggregation under the actual
    * streaming engine: [[windowedCountsStream]] (30-minute watermark) run
    * file source → state store → [[runAvailableNow]]'s in-memory
    * batches, `Trigger.AvailableNow`, append mode.
    *
    * Append mode emits exactly the windows FINALIZED by the watermark —
    * a window leaves the state store once `window.end ≤ watermark`
    * (event-time stats are millisecond-precision, so the final watermark
    * is `floor(max(ts)/1ms) − 30 min`). The trailing open windows are
    * intentionally absent: that IS the production semantics of a
    * watermarked append-mode aggregation on an unbounded stream. The
    * oracle applies the identical ms-precision cutoff in SQL, so the
    * watermark/finalization behavior itself is cross-engine-checked,
    * not bypassed. */
  def windowedCountsStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val q = windowedCountsStream(readEventStream(ss, d))
      .select(date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), col("event_type"), col("n"), col("sum_value"))
    runAvailableNow(s, q, "wincnt").orderBy("hour_start", "event_type")
  }

  /** Driver-surface HOPPING (sliding) windowed aggregation under the
    * streaming engine — [[windowedCountsStreamVerified]]'s overlapping-
    * window sibling: 1-hour windows every 30 minutes, so each event
    * lands in two windows and the state store tracks overlapping
    * entries. Same append-mode finalization contract, same ms-precision
    * oracle cutoff. */
  def hoppingCountsStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val q = readEventStream(ss, d)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hop_start"), col("event_type"), col("n"), col("sum_value"))
    runAvailableNow(s, q, "hopcnt").orderBy("hop_start", "event_type")
  }

  /** Driver-surface per-window QUANTILES under the streaming engine —
    * the p50/p95 latency-monitoring shape an operations dashboard runs
    * on every service: exact interpolated percentiles of `value` per
    * (1-hour window, event_type), append mode, same watermark
    * finalization contract and ms-precision oracle cutoff as
    * [[windowedCountsStreamVerified]]. `percentile` is a
    * TypedImperativeAggregate, so its buffer (the window's values)
    * lives in the state store — bounded by the window's event count
    * and evicted at the watermark, the shape the engine exists for.
    * The interpolated result is one fixed IEEE expression over sorted
    * doubles in both engines (the `rel_percentiles` parity precedent,
    * here exercised through the streaming state-store path). */
  def quantileStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val q = readEventStream(ss, d)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.95)").as("p95"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), col("event_type"), col("n"),
        col("p50"), col("p95"))
    runAvailableNow(s, q, "winq").orderBy("hour_start", "event_type")
  }

  /** Driver-surface CHAINED STATEFUL OPERATORS under the streaming
    * engine: per-window EXACT distinct users via streaming
    * deduplication on (window, user) FOLLOWED BY a windowed count — two
    * stateful operators in one query (dedup state + window state), the
    * Spark-3.5+ multi-stateful pipeline shape. Dedup keys carry the
    * event-time window, so its state evicts with the same watermark
    * that finalizes the downstream windows; append mode emits exactly
    * the finalized windows ([[windowedCountsStreamVerified]] contract,
    * same ms-precision oracle cutoff with COUNT(DISTINCT) on the batch
    * side).
    *
    * Scale: distinct-user state is (window × active users) keyed —
    * bounded by the watermark horizon, never corpus-sized; the
    * downstream window agg sees one row per (window, user), already
    * pre-shrunk. The batch equivalent's count(distinct) expands the
    * same way; streaming pays it incrementally. */
  def distinctUsersStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val q = readEventStream(ss, d)
      .withWatermark("ts", "30 minutes")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("n_users"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss")
        .as("hour_start"), col("n_users"))
    runAvailableNow(s, q, "distusr").orderBy("hour_start")
  }

  /** File-based streaming source over the events parquet (ts
    * normalization matching [[graft.Tables.events]] — handles both the
    * nanos-as-long and the TIMESTAMP_NTZ micros testdata layouts). The
    * source monitors the TABLE path through a brace glob —
    * `events.parquet` plus the brace-alternation of "" and "/&#42;" —
    * that matches both corpus layouts: the
    * fixture's single flat file AND the part files inside a
    * Spark-written directory (e.g. a `Scaling.inflate` output). The
    * former `pathGlobFilter` over the parent dir matched
    * only the flat-file layout (the filter tests LEAF file names, and
    * a directory's `part-*` members never match `events.parquet`), and
    * a direct non-glob file path trips FileStreamSource's
    * `basePath must be a directory` check — the glob form keeps
    * basePath unset and lists exactly the table's data files. */
  def readEventStream(s: SparkSession, dir: String): DataFrame =
    readEventStream(s, dir, eventSchema(s, dir))

  /** [[readEventStream]] with the schema already read by [[eventSchema]]. */
  def readEventStream(s: SparkSession, dir: String,
      schema: StructType): DataFrame =
    Tables.normalizeEventTs(s.readStream.schema(schema)
      .parquet(s"$dir/events.parquet{,/*}"))

  /** The events table's parquet schema under the nanos-as-long read
    * ([[graft.Tables.NanosConf]], set here if the session lacks it).
    * Reading it runs a one-task footer job, so a query that reads the
    * stream twice reads the schema once and passes it to both reads. */
  def eventSchema(s: SparkSession, dir: String): StructType = {
    if (!s.conf.getOption(Tables.NanosConf).contains("true"))
      s.conf.set(Tables.NanosConf, "true")
    Tables.load(s, dir, "events").schema
  }

  /** Streaming CSV source. Streaming file sources cannot infer schemas
    * (a scan of unbounded future files is undefined), so the schema is
    * declared by the caller. `enforceSchema=false` makes Spark VALIDATE
    * each file's header against the declared schema (the default merely
    * skips the header row and binds columns positionally — a silently
    * reordered producer would corrupt every row). Timestamps round-trip
    * through Spark's default ISO-8601 CSV format. Same
    * directory-monitoring semantics as [[readEventStream]]. */
  def readCsvStream(s: SparkSession,
      dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).option("header", "true")
      .option("enforceSchema", "false").csv(dir)

  /** Streaming JSON (one object per line) source — schema-declared, like
    * [[readCsvStream]]. */
  def readJsonStream(s: SparkSession,
      dir: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).json(dir)

  // ------------------------------------------------------------------
  // streaming dedup
  // ------------------------------------------------------------------

  /** Streaming exact dedup on event_id: duplicates arriving within the
    * watermark delay of the first occurrence are dropped; state for an id
    * is evicted once the watermark passes its event time + delay, so
    * state is bounded by (arrival rate × delay) — the streaming twin of
    * the batch `dropDuplicates`/[[graft.operators.Dedup.exact]] path. */
  def dedupEventsStream(events: DataFrame,
      watermarkDelay: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Driver-surface STREAMING DEDUP under the real engine: the event
    * stream UNIONED WITH ITSELF (two independent file-source reads of the
    * same parquet — a genuine 2× duplicate load, not a no-op pass) flows
    * through [[dedupEventsStream]]; the output must hold every event
    * exactly once. The oracle is the plain distinct projection of the
    * events table, so the state-store dedup semantics are checked
    * end-to-end against a batch engine that never saw duplicates. */
  def dedupStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    // one footer read for both file-source reads
    val schema = eventSchema(ss, d)
    val doubled =
      readEventStream(ss, d, schema).union(readEventStream(ss, d, schema))
    val q = dedupEventsStream(doubled)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("user_id"), col("event_type"))
    // the exactly-once-vs-distinct-oracle claim relies on both copies of
    // each event landing in the SAME micro-batch: dropDuplicatesWithin-
    // Watermark evicts an id's state once the watermark passes ts+30min,
    // so a source split across batches could re-emit old ids (ADVICE
    // r4). AvailableNow over the single fixture file yields one data
    // batch; assert that instead of assuming it. The MULTI-batch
    // semantics — duplicates split across micro-batches under
    // maxFilesPerTrigger=1, with a watermark sized to the fixture's
    // event-time span so no state is evicted mid-run — are pinned by
    // StreamingSpec ("streaming dedup stays exactly-once across
    // multiple micro-batches").
    runAvailableNow(s, q, "dedup", run => {
      val dataBatches = run.recentProgress.count(_.numInputRows > 0)
      require(dataBatches == 1,
        s"dedup stream ran $dataBatches data micro-batches; the distinct " +
          "oracle is only exact for a single-batch run — widen the dedup " +
          "watermark to cover the fixture's event-time span if the source " +
          "is ever split across batches")
    }).orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // streaming incremental dedup (stream-static band join)
  // ------------------------------------------------------------------

  /** STREAMING INCREMENTAL DEDUP — the daily-crawl arrival shape
    * ([[graft.operators.Dedup.incrementalDedupOn]]) as a real stream
    * (r7 VERDICT item 3): new documents (the odd-doc_id batch, the
    * batch twin's convention) arrive on a file stream, shingle +
    * minhash-band MAP-ONLY inside the stream, equi-join the STATIC
    * corpus band index, and every band candidate is verified with the
    * exact shingle Jaccard — the output holds all confirmed
    * (new doc, corpus doc) matches ≥ the shared threshold.
    *
    * Why each stage is stream-shaped:
    *  - Banding is PER-ROW: the doc's distinct shingle set, its K
    *    minhash values and its band keys all derive from the `text`
    *    column via array higher-order functions over the
    *    [[graft.functions.WordShingles]] expression — no streaming
    *    aggregation, no watermark, no state. (The batch path's
    *    groupBy-per-doc signature would demand stateful aggregation;
    *    the per-row formulation computes the IDENTICAL band keys — the
    *    md5/affine-mod minhash math over the same distinct-shingle set,
    *    `StreamingSpec` pins key equality against `minhashBandsOn`.)
    *  - The corpus index is the stream-STATIC side (band key → corpus
    *    doc + its shingle set), materialized once per run — the
    *    [[graft.operators.Dedup.edgeScratchDir]] write-once pattern is
    *    the cluster form. Stream-static equi-joins are STATELESS: each
    *    micro-batch hash-joins its arrivals against the index.
    *  - Verification is MAP-ONLY: the candidate row carries both
    *    shingle arrays, so exact Jaccard is `array_intersect`/size
    *    arithmetic — the same `c / (szₙ + szₒ − c)` the batch verify
    *    computes, never a co-shingle shuffle in the stream.
    *  - `dropDuplicates(n, o)` collapses multi-band hits of the same
    *    pair; its state is one key per CANDIDATE PAIR (band-collision
    *    bounded). A production deployment keys it
    *    `dropDuplicatesWithinWatermark` on ingest time so pair state
    *    ages out with the crawl horizon.
    *
    * The oracle replicates the whole pipeline (bands from the shared
    * coefficients, parity-asymmetric candidates, exact-Jaccard verify)
    * in SQL, so the stream run is hash-checked end-to-end like the
    * other streaming queries. */
  def incrementalDedupStreamVerified(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Dedup
    import Dedup.MinHashParams
    import graft.functions.WordShingles
    val ss = streamSession(s)
    val P = Dedup.P
    // The static corpus index is a BATCH build (shingle explode →
    // distinct → signatures), and the stream session's 4 state
    // partitions are far too few for it at scale: the r9 SCALING run
    // measured its shuffle at 381 MiB (×16) vs the batch twin's 123 —
    // 4-partition hash aggregates spill into fallback and lose their
    // map-side combine. Build the static side at the CALLER's
    // parallelism, then drop to [[StreamStatePartitions]] for the
    // stream itself (shuffle conf is read per-query at start; the
    // localCheckpoint below materializes the index eagerly while the
    // wide setting is active).
    ss.conf.set("spark.sql.shuffle.partitions",
      s.conf.get("spark.sql.shuffle.partitions"))
    // static side: corpus (even ids) band index + shingle-set arrays,
    // built by the BATCH band pipeline and materialized once. Band
    // geometry comes from the n-adaptive dial (r8 VERDICT item 8 — the
    // streaming inheritor of the scaledLshGeometry fix): the static
    // corpus count is known at stream start, and BOTH the corpus index
    // and the per-row stream banding below derive their keys from the
    // same [[Dedup.bandKeyCols]], so the stream-static equi-join stays
    // key-compatible at any geometry. Fixture corpora resolve to the
    // default (8, 2) — oracle-identical.
    val corpusDocs = Tables.documentsSpread(ss, d)
      .filter(col("doc_id") % 2 === 0)
    val nCorpusDocs = corpusDocs.count()
    val (nBands, nRows) = Dedup.scaledBandGeometry(nCorpusDocs)
    val corpusSh = corpusDocs
      .select(col("doc_id"),
        explode(array_distinct(WordShingles(col("text"), 3))).as("s"))
    // LATE MATERIALIZATION (r9, after SCALING measured 382 MiB of ×16
    // shuffle with the payload riding the band join vs the batch twin's
    // 123): the band INDEX carries only (o, band, bkey) — 3 scalars —
    // through the per-batch stream-static join; the fat shingle ARRAY
    // is a separate (o, osh) payload frame fetched AFTER
    // dropDuplicates, so only surviving candidate pairs ever move a
    // shingle set. This is the key/payload split every 100 TB join
    // wants: band-match on keys, fetch payloads late. Measured: ×16
    // shuffle 382 → 258 MiB; the remainder is the index build's
    // distinct over the corpus shingle VOCABULARY (the inflation
    // harness multiplies vocab by F via letter rotation — a real
    // crawl's vocabulary grows far slower), and wall time stays
    // sublinear (exp 0.37).
    val corpusIdx = Dedup.minhashBandsGeomOn(corpusSh, nBands, nRows)
      .select(col("doc_id").as("o"), col("band"), col("bkey"))
      .localCheckpoint()
    val corpusPayload = corpusDocs.select(col("doc_id").as("o"),
        array_distinct(WordShingles(col("text"), 3)).as("osh"))
      .localCheckpoint()
    // index materialized — restore the streaming state-partition count
    // before the micro-batch query plans against it
    ss.conf.set("spark.sql.shuffle.partitions",
      StreamStatePartitions.toString)
    // stream side: new docs (odd ids), map-only shingles → bands
    val newDocs = ss.readStream
      .schema(Tables.load(ss, d, "documents").schema)
      .parquet(s"$d/documents.parquet{,/*}") // file or part-dir (readEventStream rule)
      .filter(col("doc_id") % 2 === 1)
    val withSig = newDocs
      .select(col("doc_id").as("n"),
        array_distinct(WordShingles(col("text"), 3)).as("nsh"))
      .filter(size(col("nsh")) > 0) // shingle-less docs band nowhere
      .withColumn("hv", transform(col("nsh"), x => Dedup.md5hash60(x) % P))
    val sig = (0 until MinHashParams.K).map(i =>
      aggregate(col("hv"), lit(P), (acc, x) =>
        least(acc, (lit(MinHashParams.A(i)) * x + lit(MinHashParams.B(i))) % P))
        .as(s"mh$i"))
    val banded = withSig
      .select(col("n") +: col("nsh") +: sig: _*)
      .select(col("n"), col("nsh"),
        posexplode(array(
          Dedup.bandKeyCols(nBands, nRows, i => col(s"mh$i")): _*))
          .as(Seq("band", "bkey")))
    // the 3-scalar band index broadcasts under the cap (see
    // [[StreamStaticBroadcastMaxRows]]; idx rows = docs × bands, tiny
    // scalars) so each micro-batch's band join is map-side; the FAT
    // payload frame stays a shuffle join — broadcasting arrays would
    // invert the late-materialization win
    val corpusIdxSide =
      if (nCorpusDocs * nBands <= StreamStaticBroadcastMaxRows)
        broadcast(corpusIdx)
      else corpusIdx
    val q = banded.join(corpusIdxSide, Seq("band", "bkey"))
      .dropDuplicates("n", "o")
      .join(corpusPayload, "o") // candidates only — the late fetch
      .select(col("n"), col("o"),
        size(array_intersect(col("nsh"), col("osh"))).as("c"),
        size(col("nsh")).as("szn"), size(col("osh")).as("szo"))
      .filter(col("c") * lit(1.0) / (col("szn") + col("szo") - col("c"))
        >= Dedup.JaccardThreshold)
      .select(col("n").as("doc_id"), col("o").as("dup_of"),
        round(col("c") * lit(1.0) / (col("szn") + col("szo") - col("c")), 6)
          .as("jaccard"))
    runAvailableNow(s, q, "incdedup").orderBy("doc_id", "dup_of")
  }

  // ------------------------------------------------------------------
  // streaming vector ingest (stateless IVF-probed range search)
  // ------------------------------------------------------------------

  /** STREAMING VECTOR INGEST — the vector-database write path: each
    * arriving embedding (odd vec_ids — the incremental-dedup batch
    * convention) is checked against the STATIC corpus index for
    * near-duplicates before admission, emitting every corpus neighbor
    * within cosine ≥ [[graft.operators.Similarity.RangeThreshold]] of
    * its [[graft.operators.Similarity.NProbe]] probed IVF cells.
    *
    * The whole query is STATELESS — no watermark, no state store:
    *  - Probe selection is MAP-ONLY: the 32-entry quantized codebook
    *    rides a 1-ROW static frame (`collect_list` into an array —
    *    never a driver collect) equi-joined on a constant key; each
    *    arrival scores all centroids with the integer-exact cosine
    *    (quantized dot/norms in ONE fixed IEEE expression — the
    *    `ivfBalance` rule, so the oracle replicates the ranking
    *    bit-exactly) inside array HOFs and takes its NProbe best cells
    *    via a comparator `array_sort` — per-row work on a 32-element
    *    array, no aggregation.
    *  - Candidates come from the stream-STATIC equi-join against the
    *    corpus cell members (each member in exactly one cell, probes
    *    distinct ⇒ every (query, neighbor) pair appears once — no
    *    dedup state needed at all).
    *  - Verify is one exact raw↔raw cosine per candidate
    *    (cell-balance-bounded, the IVF contract) with the range filter.
    *
    * At cluster scale the static index is the written-once artifact
    * (cells + members parquet, the edge-dir pattern); micro-batches
    * hash-join against it. The oracle replicates coarse assignment
    * (for corpus cells AND arrival probes), the probe rank, and the
    * range verify end-to-end. */
  def vectorIngestStreamVerified(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Similarity
    val ss = streamSession(s)
    def quant(c: org.apache.spark.sql.Column) =
      transform(c, x => floor(x.cast("double") * lit(1048576.0)).cast("long"))
    def qdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.functions.IntVecDot(a, b)
    def icos(dot: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
        nb: org.apache.spark.sql.Column) =
      dot / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))
    // static side: corpus (even ids), integer-exact cell assignment
    val corpus =
      Tables.embeddingsSpread(ss, d).filter(col("vec_id") % 2 === 0)
    val qc = Similarity.defaultCentroids(corpus)
      .select(col("cent_id"), quant(col("cv")).as("qc"))
      .select(col("cent_id"), col("qc"), qdot(col("qc"), col("qc")).as("nc"))
    val qv = corpus
      .select(col("vec_id"), col("embedding"), quant(col("embedding")).as("qv"))
      .select(col("vec_id"), col("embedding"), col("qv"),
        qdot(col("qv"), col("qv")).as("nq"))
    val members = qv.crossJoin(broadcast(qc))
      .select(col("vec_id"), col("embedding"), col("cent_id"),
        icos(qdot(col("qv"), col("qc")), col("nq"), col("nc")).as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(struct(col("cent_id"), col("embedding")),
        struct(col("ccos"), -col("cent_id"))).as("m"))
      .select(col("m.cent_id").as("cent_id"),
        col("vec_id").as("neighbor_id"), col("m.embedding").as("cemb"))
      .localCheckpoint()
    val centArr = qc
      .agg(collect_list(struct(col("cent_id"), col("qc"), col("nc")))
        .as("cents"))
      .select(lit(1).as("k"), col("cents"))
      .localCheckpoint()
    // stream side: arriving vectors, map-only probe selection
    val arrivals = ss.readStream
      .schema(Tables.load(ss, d, "embeddings").schema)
      .parquet(s"$d/embeddings.parquet{,/*}") // file or part-dir (readEventStream rule)
      .filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"),
        quant(col("embedding")).as("qv"), lit(1).as("k"))
      .withColumn("nq", qdot(col("qv"), col("qv")))
      .join(centArr, "k") // 1-row static broadcast: the codebook
      .withColumn("scored", transform(col("cents"), c =>
        struct(icos(qdot(col("qv"), c.getField("qc")), col("nq"),
            c.getField("nc")).as("ccos"),
          c.getField("cent_id").as("cent_id"))))
      .withColumn("probes", slice(array_sort(col("scored"), (l, r) =>
        when(l.getField("ccos") > r.getField("ccos"), lit(-1))
          .when(l.getField("ccos") < r.getField("ccos"), lit(1))
          .otherwise(when(l.getField("cent_id") < r.getField("cent_id"),
            lit(-1))
            .when(l.getField("cent_id") > r.getField("cent_id"), lit(1))
            .otherwise(lit(0)))), 1, Similarity.NProbe))
      .select(col("vec_id"), col("embedding"),
        explode(col("probes")).as("p"))
      .select(col("vec_id"), col("embedding"),
        col("p.cent_id").as("cent_id"))
    // members carries raw embedding payloads — deliberately NOT
    // broadcast: the per-batch broadcast rebuild measured WORSE than
    // the shuffle join past ×32 (see [[StreamStaticBroadcastMaxRows]]
    // — the scalar-only rule)
    val q = arrivals.join(members, Seq("cent_id"))
      .select(col("vec_id"), col("neighbor_id"),
        graft.functions.CosineSimilarity(col("embedding"), col("cemb"))
          .as("cos"))
      .filter(col("cos") >= Similarity.RangeThreshold)
      .select(col("vec_id"), col("neighbor_id"),
        round(col("cos"), 6).as("cosine"))
    runAvailableNow(s, q, "annin").orderBy("vec_id", "neighbor_id")
  }

  // ------------------------------------------------------------------
  // streaming media ingest (phash near-dup check at ingest time)
  // ------------------------------------------------------------------

  /** STREAMING MEDIA INGEST — the third arrival-path check, completing
    * the triptych with [[incrementalDedupStreamVerified]] (text) and
    * [[vectorIngestStreamVerified]] (vectors): arriving image rows (odd
    * media ids) compute their [[graft.operators.Multimodal]] average
    * hash MAP-ONLY inside the stream (the sampling/threshold/bit-pack
    * arithmetic re-expressed over array higher-order functions — no
    * aggregation, no state), pigeonhole-band against the STATIC corpus
    * signature index, and emit every corpus image within hamming ≤
    * [[graft.operators.Multimodal.PhashMaxHamming]].
    *
    * The 4 × 8-bit pigeonhole bands give COMPLETE recall at hamming ≤ 3
    * (4 bands cannot all differ), so the oracle is the lossless plain
    * parity join over the same signatures — the banding needs no SQL
    * twin, it only bounds the streamed join's fan-out. The one
    * stateful piece is the pair `dropDuplicates` collapsing multi-band
    * hits (candidate-bounded; production keys it WithinWatermark on
    * ingest time). Payload-encoding caveat as the batch operator:
    * byte-length vs char-substring sampling agree while the stub
    * payloads are pure ASCII — a real codec replaces the sampling with
    * decoded pixels. */
  def mediaIngestStreamVerified(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Multimodal
    val ss = streamSession(s)
    // n-ADAPTIVE geometry (see [[MediaIngestWideMinImages]]): the image
    // corpus count is known at stream start, and both the static index
    // and the per-row stream signature below derive from the same
    // (samples, bandBits) — fixture corpora resolve to the default,
    // keeping every committed oracle byte-identical
    // non-empty-payload filter matches the signature pipeline exactly
    // (phashSigs and the arrivals filter both drop n_bytes = 0 docs), so
    // the dial threshold and the indexed population agree at the
    // boundary (ADVICE r11)
    val nImages = Tables.documents(ss, d)
      .filter(col("doc_id") % 2 === 0 &&
        col("doc_id") % Multimodal.Kinds.size ===
          Multimodal.Kinds.indexOf("image") &&
        length(col("text")) > 0)
      .count()
    val (samples, bandBits) =
      if (nImages <= MediaIngestWideMinImages) (Multimodal.PhashSamples, 8)
      else (Multimodal.PhashSamplesWide, 15)
    val S = samples
    val nBands = 4
    val mask = (1L << bandBits) - 1
    def chunks = (0 until nBands).map(b =>
      shiftright(col("sig"), bandBits * b).bitwiseAND(mask))
    // static: corpus (even ids) signatures via the batch pipeline,
    // band-exploded into the ingest index
    val index = Multimodal.phashSigs(ss, d, S)
      .filter(col("media_id") % 2 === 0)
      .select(col("media_id").as("neighbor_id"), col("sig"))
      .select(col("neighbor_id"), col("sig").as("nsig"),
        posexplode(array(chunks: _*)).as(Seq("band", "bkey")))
      .localCheckpoint()
    // stream: arriving image rows, per-row signature (same integer
    // arithmetic as the batch groupBy formulation — sample offsets,
    // mean threshold via sv·S ≥ Σ sv, bit pack)
    val arrivals = ss.readStream
      .schema(Tables.load(ss, d, "documents").schema)
      .parquet(s"$d/documents.parquet{,/*}") // file or part-dir (readEventStream rule)
      .filter(col("doc_id") % 2 === 1 &&
        col("doc_id") % Multimodal.Kinds.size === Multimodal.Kinds.indexOf("image"))
      .select(col("doc_id").as("media_id"),
        col("text").cast("binary").as("bytes"))
      .withColumn("nb", length(col("bytes")))
      .filter(col("nb") > 0)
      .withColumn("bstr", col("bytes").cast("string"))
      .withColumn("svs", expr(
        s"transform(sequence(0, ${S - 1}), j -> ascii(substring(bstr, " +
          s"cast(floor(j * (nb - 1) / ${S - 1}) as int) + 1, 1)))"))
      .withColumn("tot", expr(
        "aggregate(svs, cast(0 as bigint), (acc, x) -> acc + x)"))
      .withColumn("sig", expr(
        s"aggregate(transform(svs, (sv, j) -> if(sv * $S >= tot, " +
          "shiftleft(cast(1 as bigint), j), cast(0 as bigint))), " +
          "cast(0 as bigint), (acc, x) -> acc + x)"))
      .select(col("media_id"), col("sig"),
        posexplode(array(chunks: _*)).as(Seq("band", "bkey")))
    // scalar signature index: broadcast under the cap (see
    // [[StreamStaticBroadcastMaxRows]]) — same per-batch re-shuffle
    // rationale as the vector/text ingest streams. Index rows are
    // exactly (non-empty images) × nBands, so the decision reuses the
    // nImages count instead of paying a second count job inside the
    // timed region (ADVICE r11; the text-ingest stream's
    // nCorpusDocs × nBands rule)
    val indexSide =
      if (nImages * nBands <= StreamStaticBroadcastMaxRows) broadcast(index)
      else index
    val q = arrivals.join(indexSide, Seq("band", "bkey"))
      .dropDuplicates("media_id", "neighbor_id")
      .select(col("media_id"), col("neighbor_id"),
        bit_count(col("sig").bitwiseXOR(col("nsig"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= Multimodal.PhashMaxHamming)
    runAvailableNow(s, q, "mmin").orderBy("media_id", "neighbor_id")
  }

  // ------------------------------------------------------------------
  // stream-static dimension enrichment
  // ------------------------------------------------------------------

  /** STREAM-STATIC dimension enrichment — the most common production
    * streaming shape: each event left-joined to a STATIC dimension table
    * (customer → market segment) via a broadcast hash join. Stateless:
    * no watermark, no state store — the static side is planned as a
    * broadcast and each micro-batch probes it, which is exactly how a
    * 100 TB/day stream enriches against a small dimension (the static
    * side is re-read per batch only if its files change).
    *
    * The oracle is the plain batch left join, so the streaming engine's
    * static-side broadcast semantics are checked end-to-end. */
  def enrichedStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val dim = graft.Tables.customer(ss, d)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment"))
    val q = readEventStream(ss, d)
      .join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("segment"), lit("none")).as("segment"))
    runAvailableNow(s, q, "enrich").orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // stream-stream join
  // ------------------------------------------------------------------

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding 10 minutes — the streaming twin of
    * the batch bucketized range join
    * ([[graft.operators.Relational.rangeJoin]]).
    *
    * Inputs must carry (user_id, pts) and (c_user, cts). Both sides are
    * watermarked: the time-range join condition + watermarks let Spark
    * evict buffered rows once they can no longer match (state is
    * bounded by rate × (delay + range)); without them a stream-stream
    * join buffers forever. Works identically on batch DataFrames
    * (watermark is a no-op there) — spec-tested both ways. */
  def clickAttributionStream(purchases: DataFrame,
      clicks: DataFrame): DataFrame =
    purchases.withWatermark("pts", "10 minutes")
      .join(clicks.withWatermark("cts", "10 minutes"),
        expr("""user_id = c_user AND
                cts >= pts - interval 10 minutes AND cts <= pts"""))

  /** Driver-surface STREAM-STREAM interval join: [[clickAttributionStream]]
    * run under the streaming engine as a self-join of two filtered reads
    * of the event stream (watermarked both sides, [[runAvailableNow]],
    * `Trigger.AvailableNow`), returning the matched (purchase, click)
    * pairs for the driver's oracle compare against the plain SQL interval
    * join. Inner joins emit matches as both sides arrive, so on a bounded
    * input the streaming result equals the batch join exactly; the
    * watermarks' job — state eviction — is exercised by the MemoryStream
    * specs. */
  /** Shuffle/state partition count for the driver-surface streaming
    * runs. Streaming state cost scales with the partition count — every
    * micro-batch commits per-partition state files for EVERY stateful
    * operator (2 join sides here), so 32 partitions over a bounded
    * fixture is pure overhead: measured at sf0.1, the stream-stream join
    * drops 7.9 s → 2.7 s and the windowed agg 3.8 s → 1.6 s going
    * 32 → 8, and a further ~7% across the suite going 8 → 4 (r5). On a
    * real cluster this knob rises with input rate — it bounds
    * state-store parallelism, not correctness (all streaming results
    * here are partitioning-independent, which the oracle hash-check
    * would catch if violated). */
  val StreamStatePartitions = 4

  /** SCALAR static-index broadcast cap for the ingest streams (r11):
    * every micro-batch RE-PLANS its stream-static join, and with AQE
    * unavailable under streaming the static index was SHUFFLED per
    * batch on both sides. Under this cap a SCALAR index (band keys,
    * signatures — a few fixed-width columns, ≲ 32 B/row) carries a
    * broadcast hint, so per-batch joins are map-side: measured on
    * `dedup_incremental_stream` ×32 as 523 → 42 MiB of shuffle. 16 M
    * scalar rows ≈ 0.5 GiB hashed — inside executor memory. Past the
    * cap — or for PAYLOAD-carrying indexes — the shuffle join is the
    * design: broadcasting the vector ingest's embedding-carrying
    * members frame measured WORSE past ×32 (×64 wall 37.8 → 67.8 s;
    * the per-batch broadcast REBUILD — driver collect + hash-relation
    * build, repeated every micro-batch because streaming re-plans —
    * grows with index bytes × batch count and overtakes the shuffle
    * it replaces), so that hint was reverted: at 100 TB the static
    * index is partitioned/bucketed storage the micro-batch hash-joins
    * against, not a broadcast. */
  val StreamStaticBroadcastMaxRows = 1L << 24

  /** Image-corpus size past which [[mediaIngestStreamVerified]]
    * switches its signature/band geometry to the batch operator's
    * WIDE escape ([[graft.operators.Multimodal.phashPairsWide]]'s
    * 60-sample sigs, 4 × 15-bit bands): the default 32-bit/4 × 8-bit
    * geometry has only 256 buckets per band, so in-bucket candidate
    * fan-out grows as (n/256)² — the first ×32 measurement of the
    * un-dialed stream recorded 79.6 M dropDuplicates state rows
    * (16.9 GiB) from a 27 k-image corpus, exactly the detonation the
    * batch guard refuses at [[graft.operators.Multimodal.MaxPhashBandBucket]].
    * 10 k images keeps expected 8-bit occupancy ≈ 39; the wide
    * geometry's 32 768 buckets/band then hold occupancy ≈ n/32 768
    * past the switch. Fixture corpora (sf0.01 ≈ 80 images, sf0.1 ≈
    * 830) resolve to the default, keeping the committed oracle and
    * bench rows byte-identical — the [[graft.operators.Dedup.scaledBandGeometry]]
    * inheritance pattern. */
  val MediaIngestWideMinImages = 10000L

  /** An ISOLATED session (shared SparkContext, own SQLConf) for the
    * driver-surface streaming runs, with [[StreamStatePartitions]]
    * shuffle partitions (read at streaming-query START) and
    * `minBatchesToRetain` sized for AvailableNow runs. The caller's
    * session is never mutated — the previous set/restore-in-finally on
    * the SHARED session would leak the 8-partition override to any batch
    * query planned concurrently (ADVICE r4); `newSession` is the same
    * isolation move SkewSpec uses for its conf overrides.
    *
    * State-store provider: `SPARK_GRAFT_STATE_PROVIDER=rocksdb` swaps
    * the HDFS-backed default (per-partition state in executor memory —
    * right for bounded fixtures) for the RocksDB provider, the
    * production choice once state outgrows the heap. The swap is
    * semantics-preserving — StreamingSpec pins identical results and
    * the driver's oracle hash-checks every streaming query under
    * whichever provider is active. Measured at sf0.1 (Prof round-3
    * steady state, 4 state partitions): RocksDB adds ~0.15-0.8 s per
    * stateful query on these bounded runs (sessionized 1.50→1.64 s,
    * windowed 2.09→2.26 s, dedup 2.11→2.88 s, stream-stream join
    * 3.11→3.74 s) — per-batch checkpoint/compaction overhead that buys
    * off-heap state once it outgrows the executor heap. */
  private def streamSession(s: SparkSession): SparkSession = {
    val ss = s.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", StreamStatePartitions.toString)
    // bounded AvailableNow runs commit a handful of batches; retaining
    // the default 100 checkpoint versions just inflates state-commit
    // bookkeeping on every micro-batch
    ss.conf.set("spark.sql.streaming.minBatchesToRetain", "2")
    ss.conf.set(graft.Tables.NanosConf, "true")
    if (sys.env.get("SPARK_GRAFT_STATE_PROVIDER")
        .exists(_.equalsIgnoreCase("rocksdb")))
      ss.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
    // newSession() resets SESSION-level conf to SparkConf defaults — a
    // caller that set its timezone via session.conf.set (not at builder
    // time) would otherwise silently stream in the JVM-default zone and
    // shift every date_format'd window label; inherit it explicitly
    ss.conf.set("spark.sql.session.timeZone",
      s.conf.get("spark.sql.session.timeZone"))
    // every driver-surface stream reports its per-batch state-store
    // footprint through the shared observer (a no-op unless armed: the
    // benchmark's traced event_stream runs arm it — see [[StreamObserver]])
    ss.streams.addListener(StreamObserver)
    ss
  }

  /** Runs the streaming frame `q` to its end under `Trigger.AvailableNow`
    * in append mode and returns every row it emitted, as a frame of the
    * caller's session `s`. A `foreachBatch` sink `localCheckpoint()`s each
    * micro-batch, so the result stays in the block manager and is never
    * written out and read back; the frame is the union of those batches,
    * or an empty `LocalRelation` of `q.schema` when no batch ran. `check`
    * sees the finished query (its progress reports) before the frame is
    * built. The checkpoint directory is deleted in every case, also when
    * the query or `check` throws (Bench invokes each `*_stream` query
    * repeatedly, so a stranded directory per run would accumulate). */
  private[graft] def runAvailableNow(s: SparkSession, q: DataFrame,
      tag: String, check: StreamingQuery => Unit = _ => ()): DataFrame = {
    val ckpt =
      java.nio.file.Files.createTempDirectory(s"graft-$tag-ckpt").toString
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]
    val keep: (DataFrame, Long) => Unit =
      (batch, _) => batches.add(batch.localCheckpoint())
    try {
      val run = q.writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch(keep)
        .start()
      run.awaitTermination()
      check(run)
    } finally deleteRecursively(ckpt)
    if (batches.isEmpty) s.createDataFrame(java.util.List.of[Row](), q.schema)
    else graftshim.unionLocalCheckpoints(s, batches.asScala.toSeq)
  }

  private def deleteRecursively(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  /** Stream-stream LEFT SEMI interval join under the engine: purchases
    * that had at least one same-user click in the preceding 10 minutes —
    * emitted ONCE per matched purchase, however many clicks matched
    * (the attribution-filter shape: "keep converting purchases", without
    * materializing the pair blow-up of the inner join). Semi joins emit
    * a left row when its first match arrives — unlike OUTER stream-stream
    * joins there is no watermark-timed null emission, so a bounded run
    * equals the batch semi join exactly and the oracle is a plain EXISTS
    * query. Watermarks still bound both buffers (left rows that matched
    * are dropped immediately; unmatched ones evict once they can no
    * longer match). */
  def semiJoinStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("cts"))
    val q = purchases.withWatermark("pts", "10 minutes")
      .join(clicks.withWatermark("cts", "10 minutes"),
        expr("""user_id = c_user AND
                cts >= pts - interval 10 minutes AND cts <= pts"""),
        "left_semi")
      .select(col("p_event"), col("user_id"), unix_micros(col("pts")).as("p_us"))
    runAvailableNow(s, q, "semij").orderBy("p_event")
  }

  /** Stream-stream LEFT OUTER interval join under the engine — the one
    * stream-stream form whose semantics are genuinely WATERMARK-TIMED:
    * matched (purchase, click) pairs emit eagerly like the inner join,
    * but an UNMATCHED purchase can only emit its null-padded row once
    * the watermark proves no future click can still match it (cts ≤ pts
    * and late clicks below the watermark are dropped ⇒ safe when
    * wm > pts). The engine runs those evictions in the no-data batch
    * after the last file batch, so on a bounded fixture the result is
    * deterministic: all matched pairs, plus null rows for exactly the
    * unmatched purchases with pts strictly below the final global
    * watermark min(max pts, max cts)@ms − 10 min. Purchases inside the
    * final watermark window stay buffered forever — that tail is the
    * honest price of outer streaming joins, and the oracle replicates
    * the cutoff rather than pretending the batch LEFT JOIN is
    * reachable. State on each side is bounded by rate × (delay +
    * range), exactly as in [[clickAttributionStream]]. */
  def outerJoinStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val q = purchases.withWatermark("pts", "10 minutes")
      .join(clicks.withWatermark("cts", "10 minutes"),
        expr("""user_id = c_user AND
                cts >= pts - interval 10 minutes AND cts <= pts"""),
        "left_outer")
      .select(col("p_event"), col("user_id"), unix_micros(col("pts")).as("p_us"),
        col("c_event"), unix_micros(col("cts")).as("c_us"))
    // c_event is null on the watermark-emitted rows: sort nulls FIRST
    // explicitly (Spark's ASC default) so the oracle can mirror it with
    // NULLS FIRST rather than relying on either engine's default
    runAvailableNow(s, q, "outerj").orderBy(col("p_event").asc, col("c_event").asc_nulls_first)
  }

  /** Stream-stream ANTI interval join — "purchases with NO qualifying
    * click", the attribution-gap / fraud-screen shape. Structured
    * Streaming does NOT support left_anti stream-stream joins, so the
    * idiomatic construction is the supported LEFT OUTER interval join
    * followed by a stateless IS NULL filter: the outer join's
    * watermark-timed null rows ARE precisely the anti-join rows, with
    * the same eviction proof (a purchase emits once wm > pts shows no
    * future click can match). Same state bounds and cutoff contract as
    * [[outerJoinStreamVerified]]; the oracle keeps only the unmatched
    * branch of the outer oracle. */
  def antiJoinStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val q = purchases.withWatermark("pts", "10 minutes")
      .join(clicks.withWatermark("cts", "10 minutes"),
        expr("""user_id = c_user AND
                cts >= pts - interval 10 minutes AND cts <= pts"""),
        "left_outer")
      .filter(col("c_event").isNull)
      .select(col("p_event"), col("user_id"),
        unix_micros(col("pts")).as("p_us"))
    runAvailableNow(s, q, "antij").orderBy("p_event")
  }

  /** Stream-stream FULL OUTER interval join — completes the outer
    * family: null rows emit on BOTH sides, each on its OWN eviction
    * cutoff, which is asymmetric because the interval condition is.
    * A purchase can match clicks with cts ∈ [pts − 10 min, pts], so an
    * unmatched purchase is provably dead once wm > pts (late clicks
    * below the watermark are dropped). A click can match purchases
    * with pts ∈ [cts, cts + 10 min], so an unmatched click lives TEN
    * MINUTES LONGER: it emits only once wm > cts + 10 min. The oracle
    * replicates both cutoffs (ms-floored max event time, min across
    * sides, strict <), so the asymmetry itself is cross-engine-checked
    * — along with the tail rule that rows inside their own cutoff
    * window never emit. */
  def fullOuterJoinStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val q = purchases.withWatermark("pts", "10 minutes")
      .join(clicks.withWatermark("cts", "10 minutes"),
        expr("""p_user = c_user AND
                cts >= pts - interval 10 minutes AND cts <= pts"""),
        "full_outer")
      .select(col("p_event"), col("p_user"), unix_micros(col("pts")).as("p_us"),
        col("c_event"), col("c_user"), unix_micros(col("cts")).as("c_us"))
    runAvailableNow(s, q, "fouterj").orderBy(col("p_event").asc_nulls_first, col("c_event").asc_nulls_first)
  }

  def clickAttributionStreamVerified(s: SparkSession, d: String): DataFrame = {
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id"),
        col("ts").as("pts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id").as("c_user"),
        col("ts").as("cts"))
    val q = clickAttributionStream(purchases, clicks)
      .select(col("p_event"), col("c_event"),
        unix_micros(col("pts")).as("p_us"), unix_micros(col("cts")).as("c_us"))
    runAvailableNow(s, q, "attr").orderBy("p_event", "c_event")
  }

  // ------------------------------------------------------------------
  // sessionization: gaps-and-islands (batch SQL) …
  // ------------------------------------------------------------------

  /** Batch sessionization: sessions break when the gap to the previous
    * event of the same user exceeds 10 minutes. Pure window functions —
    * this is the oracle-checked `SparkEntry` query. */
  def sessionizeBatch(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapMicros, 1).otherwise(0))
      .withColumn("session_idx",
        (sum("new_session").over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
          .cast("int"))
      .groupBy("user_id", "session_idx")
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** SESSION-HEALTH QUANTILES — the monitoring roll-up over the same
    * oracle-checked sessionization: per session-start day, session
    * count, exact interpolated p50/p95 session duration (µs), median
    * events per session, and the mean in integer ppm. Percentile
    * interpolation over integer-valued durations is the proven
    * `rel_percentiles`/`events_quantile_stream` parity surface; the
    * mean routes through DECIMAL. Day buckets are integer epoch-day
    * division (no calendar ambiguity).
    *
    * Scale: rides [[sessionizeBatch]]'s per-user windows (user-sized
    * partitions), then a day-keyed aggregate over the session frame —
    * sessions ≪ events, result ≤ #days rows. */
  def sessionQuantiles(s: SparkSession, d: String): DataFrame =
    sessionizeBatch(s, d)
      .select(expr("start_us div 86400000000").as("day"),
        (col("end_us") - col("start_us")).as("dur_us"),
        col("n_events").cast("long").as("ne"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_sessions"),
        expr("percentile(dur_us, 0.5)").as("p50_dur_us"),
        expr("percentile(dur_us, 0.95)").as("p95_dur_us"),
        expr("percentile(ne, 0.5)").as("p50_events"),
        expr("cast((cast(sum(ne) as decimal(38,0)) * 1000000) " +
          "div count(1) as bigint)").as("mean_events_ppm"))
      .withColumn("day_date", date_format(
        (col("day") * 86400).cast("timestamp"), "yyyy-MM-dd"))
      .select("day", "day_date", "n_sessions", "p50_dur_us",
        "p95_dur_us", "p50_events", "mean_events_ppm")
      .orderBy("day")

  /** Driver-surface STREAMING sessionization — the stateful
    * [[sessionizeStateful]] pipeline run under the actual streaming
    * engine (file source → keyed state store → [[runAvailableNow]],
    * `Trigger.AvailableNow`), returning the emitted sessions so the
    * driver checks it against the SAME DuckDB oracle as the batch
    * gaps-and-islands query: one oracle, three implementations (window
    * SQL, stateful batch, stateful streaming).
    *
    * Exact-sum trick: `value` is pre-quantized to integer micro-units by
    * Spark's own DECIMAL(18,6) cast, so the stateful accumulation is
    * exact integer arithmetic (lossless in a Double below 2^53), and one
    * IEEE division by 1e6 at the end lands on the identical double the
    * DECIMAL sum → DOUBLE cast produces on both engines.
    *
    * The bounded fixture arrives as a single micro-batch, so
    * `closeTrailing = true` (emit the final open session per key) gives
    * the complete session set; the watermark-timeout lifecycle for
    * unbounded inputs is exercised by the MemoryStream specs. */
  def sessionizeStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .select(col("user_id"), col("ts"),
        (col("value").cast(DecimalType(18, 6)) * 1000000).cast("double")
          .as("value"))
      .as[Ev]
    val q = sessionizeStateful(ev, closeTrailing = true).toDF()
    runAvailableNow(s, q, "sess")
      .select(col("user_id"), col("session_idx"), col("start_us"),
        col("end_us"), col("n_events"),
        (col("sum_value") / 1e6).as("sum_value"))
      .orderBy("user_id", "session_idx")
  }

  /** Sessionization via Spark's BUILT-IN `session_window` aggregation —
    * the compose-first implementation (SURVEY §7 preference order),
    * checked against the SAME oracle as the window-SQL and stateful
    * forms: one oracle, FOUR implementations (gaps-and-islands SQL,
    * stateful batch, stateful streaming, native session_window).
    *
    * Boundary note: `session_window` extends a session while the next
    * event is STRICTLY before last_ts + gap, while the gaps-and-islands
    * form breaks on `gap > 10 min` — they differ only when a gap equals
    * the 10-minute boundary to the microsecond, which the driver's
    * hash-compare would expose (the fixture has no such gap; a real
    * pipeline should pick one convention and encode it in both places).
    *
    * The session INDEX (not part of session_window's output) is
    * recovered by ranking each user's sessions by start — a per-user
    * window over one row per session, not per event.
    *
    * Scale: session_window is a first-class streaming-state aggregation
    * (merging session state store) — the same plan runs under
    * readStream with a watermark; per-user state is the open session
    * set, partitioned by the grouping key. */
  def sessionizeNative(s: SparkSession, d: String): DataFrame = {
    val byStart = Window.partitionBy("user_id").orderBy("start_us")
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$SessionGapMinutes minutes").as("sw"))
      .agg(
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast("double")
          .as("sum_value"))
      .withColumn("session_idx",
        (row_number().over(byStart) - 1).cast("int"))
      .select("user_id", "session_idx", "start_us", "end_us",
        "n_events", "sum_value")
      .orderBy("user_id", "session_idx")
  }

  // ------------------------------------------------------------------
  // … and the stateful streaming equivalent
  // ------------------------------------------------------------------

  case class SessState(startUs: Long, endUs: Long, n: Int, sum: Double,
      idx: Int)

  private def toOut(uid: Long, s: SessState): SessionOut =
    SessionOut(uid, s.idx, s.startUs, s.endUs, s.n, s.sum)

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000
  private def tsMicros(e: Ev): Long = tsMicros(e.ts)

  /** Stateful sessionization via flatMapGroupsWithState — the SAME
    * function runs in batch (`closeTrailing = true`: one call per key,
    * final open session emitted, NoTimeout) and streaming
    * (`closeTrailing = false`: open session parked in keyed state with an
    * event-time timeout, emitted when the watermark passes end + gap).
    *
    * Scale: per-user state is O(1) — one open session; the state store is
    * hash-partitioned by user_id; sorting is per-(user, micro-batch). */
  def sessionizeStateful(events: Dataset[Ev], closeTrailing: Boolean)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val timeout =
      if (closeTrailing) GroupStateTimeout.NoTimeout()
      else GroupStateTimeout.EventTimeTimeout()
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append(), timeout) {
        (uid: Long, it: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's end + gap: emit & clear
            val s = state.get
            state.remove()
            Iterator(toOut(uid, s))
          } else {
            val evs = it.map(e => (tsMicros(e), e.value)).toSeq.sortBy(_._1)
            val closed = scala.collection.mutable.ListBuffer[SessionOut]()
            var open: SessState = state.getOption.orNull
            evs.foreach { case (us, v) =>
              if (open == null) {
                open = SessState(us, us, 1, v, 0)
              } else if (us - open.endUs > gapMicros) {
                closed += toOut(uid, open)
                open = SessState(us, us, 1, v, open.idx + 1)
              } else {
                open = open.copy(endUs = math.max(open.endUs, us),
                  n = open.n + 1, sum = open.sum + v)
              }
            }
            if (closeTrailing) {
              if (open != null) closed += toOut(uid, open)
              state.remove()
            } else if (open != null) {
              state.update(open)
              state.setTimeoutTimestamp(
                open.endUs / 1000 + SessionGapMinutes * 60 * 1000)
            }
            closed.iterator
          }
      }
  }

  // ------------------------------------------------------------------
  // streaming CUSUM changepoint detection
  // ------------------------------------------------------------------

  case class CusumEv(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  case class CusumOut(user_id: Long, event_id: Long, cusum_scaled: Long)

  /** Stateful streaming twin of `Curation.cusum` — Page's one-sided
    * CUSUM as keyed state: per user the ENTIRE carried state is one
    * Long (the current statistic S), updated event-by-event in
    * (ts, event_id) order within each micro-batch and persisted across
    * batches. The same ×10⁶ floor-scaling as the batch operator keeps
    * every update exact integer arithmetic, so batch window SQL,
    * DuckDB, and the state store agree bit-for-bit.
    *
    * Ordering contract: within a micro-batch events sort per user;
    * ACROSS batches the source must deliver time-ordered files (true
    * of the driver fixture — one file — and of date-partitioned
    * ingestion; a late event would need a watermark-buffered variant,
    * the [[sessionizeStateful]] timeout pattern).
    *
    * Scale: state is 8 bytes/user in a hash-partitioned store; output
    * is append-only flagged events — the alarm stream a monitor
    * subscribes to. */
  def cusumStateful(events: Dataset[CusumEv]): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    import graft.operators.Curation.{CusumDriftScaled, CusumThresholdScaled}
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, CusumOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[CusumEv], state: GroupState[Long]) =>
          var s = state.getOption.getOrElse(0L)
          val out = it.map(e => (tsMicros(e.ts), e.event_id, e.value))
            .toSeq.sortBy(t => (t._1, t._2))
            .flatMap { case (_, id, v) =>
              val d = math.floor(v * 1000000.0).toLong - CusumDriftScaled
              s = math.max(0L, s + d)
              if (s > CusumThresholdScaled) Some(CusumOut(uid, id, s))
              else None
            }
          state.update(s)
          out.iterator
      }
  }

  /** SESSION-QUALITY report — the count-of-counts rollup over
    * [[sessionizeBatch]]'s sessions: per session LENGTH (events per
    * session), how many sessions, their total and truncating-average
    * duration. Row 1 is the BOUNCE count (single-event sessions — the
    * engagement metric every product dashboard leads with); the tail
    * is the power-user profile. Composes the oracle-checked
    * sessionization, so the same SQL pipeline wrapped in one GROUP BY
    * checks it cross-engine.
    *
    * Scale: the session frame is ≪ event volume (one row per session);
    * the rollup is a ≤max-length-sized partial+final count. Durations
    * stay integer microseconds (`div` average), bit-identical. */
  def sessionStats(s: SparkSession, d: String): DataFrame =
    sessionizeBatch(s, d)
      .select(col("n_events").as("session_len"),
        (col("end_us") - col("start_us")).as("dur_us"))
      .groupBy("session_len")
      .agg(count(lit(1)).as("n_sessions"), sum("dur_us").as("total_dur_us"))
      .select(col("session_len"), col("n_sessions"), col("total_dur_us"),
        expr("total_dur_us div n_sessions").as("avg_dur_us"))
      .orderBy("session_len")

  case class ThrottleEv(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp)
  case class ThrottleSt(day: Long, n: Long)
  case class ThrottleOut(user_id: Long, event_id: Long)

  /** Stateful streaming twin of `Curation.throttle`'s admission rule —
    * the ONLINE rate limiter (the batch operator audits the outcome;
    * this is the enforcement point): per user the carried state is
    * (current UTC day, admissions so far today) — 16 bytes — and every
    * event past `ThrottleMaxPerDay` in its (user, day) is emitted on
    * the REJECT stream (the side a collection pipeline samples for
    * abuse review; admitted events flow on unchanged). Day boundaries
    * come from `floorDiv(micros, 86 400·10⁶)`, exactly the batch
    * `date_trunc('day')` in the UTC session both engines run.
    *
    * Ordering contract: events sort by (ts, event_id) within each
    * micro-batch; across batches the source must deliver time-ordered
    * files (the [[cusumStateful]] contract — true of the fixture and of
    * date-partitioned ingestion).
    *
    * Scale: hash-partitioned keyed state, one tiny record per user;
    * append-only output sized by the violation volume, not the input. */
  def throttleStateful(events: Dataset[ThrottleEv]): Dataset[ThrottleOut] = {
    import events.sparkSession.implicits._
    val cap = graft.operators.Curation.ThrottleMaxPerDay
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[ThrottleSt, ThrottleOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[ThrottleEv], state: GroupState[ThrottleSt]) =>
          var st = state.getOption.getOrElse(ThrottleSt(Long.MinValue, 0L))
          val out = it.map(e => (tsMicros(e.ts), e.event_id))
            .toSeq.sorted
            .flatMap { case (tus, id) =>
              val day = Math.floorDiv(tus, 86400000000L)
              if (day != st.day) st = ThrottleSt(day, 0L)
              st = ThrottleSt(st.day, st.n + 1)
              if (st.n > cap) Some(ThrottleOut(uid, id)) else None
            }
          state.update(st)
          out.iterator
      }
  }

  /** Driver-surface STREAMING THROTTLE under the real engine (file
    * source → keyed state → [[runAvailableNow]], AvailableNow): the reject
    * stream, checked against a batch window oracle (`row_number() > cap
    * per (user, day)` in both engines). */
  def throttleStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[ThrottleEv]
    val q = throttleStateful(ev).toDF()
    runAvailableNow(s, q, "throttle").select(col("user_id"), col("event_id"))
      .orderBy("user_id", "event_id")
  }

  /** Driver-surface STREAMING CUSUM under the real engine (file source →
    * keyed state → [[runAvailableNow]], AvailableNow), checked against the SAME
    * DuckDB oracle as the batch `events_cusum` window query: one oracle,
    * two execution models. */
  def cusumStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[CusumEv]
    val q = cusumStateful(ev).toDF()
    runAvailableNow(s, q, "cusum").select(col("user_id"), col("event_id"), col("cusum_scaled"),
        round(col("cusum_scaled") / lit(1000000.0), 6).as("cusum"))
      .orderBy("user_id", "event_id")
  }

  // ------------------------------------------------------------------
  // streaming EWMA smoothing
  // ------------------------------------------------------------------

  case class EwmaEv(user_id: Long, event_id: Long, value: Double)
  case class EwmaOut(user_id: Long, event_id: Long, value: Double,
      wsum: Long, wden: Long)

  /** Stateful streaming twin of `Curation.ewma` — the trailing
    * 8-tap power-of-two EWMA as keyed state: per user the carried state
    * is the last 7 cent values (newest first, ≤ 56 bytes), so each
    * arriving event emits the SAME weighted sum/denominator the batch
    * window query computes with its `lag()` taps. All state arithmetic
    * is BIGINT; the one float division happens AFTER the stream, in the
    * same Spark `round(wsum / (wden · 100.0), 6)` expression the batch
    * operator uses (the [[cusumStateful]] rule: never round inside the
    * stateful function).
    *
    * Ordering contract: same as [[cusumStateful]] — within a
    * micro-batch events sort by the arrival key per user; across
    * batches the source delivers ordered files.
    *
    * Scale: state is a 7-slot ring per user in the keyed store; output
    * is append-only, one row per event — the smoothed metric stream a
    * dashboard subscribes to. */
  def ewmaStateful(events: Dataset[EwmaEv]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._
    import graft.operators.Curation.EwmaLags
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], EwmaOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[EwmaEv], state: GroupState[Seq[Long]]) =>
          var hist = state.getOption.getOrElse(Seq.empty[Long])
          val out = it.toSeq.sortBy(_.event_id).map { e =>
            // parity with round(value·100, 0): HALF_UP, positive domain
            val cents = math.floor(e.value * 100.0 + 0.5).toLong
            val taps = (cents +: hist).take(EwmaLags)
            val wsum = taps.zipWithIndex
              .map { case (c, k) => c * (1L << (EwmaLags - 1 - k)) }.sum
            val wden = taps.zipWithIndex
              .map { case (_, k) => 1L << (EwmaLags - 1 - k) }.sum
            hist = taps.take(EwmaLags - 1)
            EwmaOut(uid, e.event_id, e.value, wsum, wden)
          }
          state.update(hist)
          out.iterator
      }
  }

  /** Driver-surface run of [[ewmaStateful]]: [[runAvailableNow]],
    * then the batch operator's exact output projection — same columns,
    * same oracle as `events_ewma`. */
  def ewmaStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .select(col("user_id"), col("event_id"), col("value"))
      .as[EwmaEv]
    val q = ewmaStateful(ev).toDF()
    runAvailableNow(s, q, "ewma").select(col("event_id"), col("user_id"), col("value"),
        round(col("wsum") / (col("wden") * lit(100.0)), 6).as("ewma"))
      .orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // streaming anomaly detection (online running-stats outliers)
  // ------------------------------------------------------------------

  case class AnomEv(event_type: String, event_id: Long, value: Double)
  case class AnomSt(n: Long, s6: String, q6: String)
  case class AnomOut(event_id: Long, event_type: String, value: Double)

  /** An event is only tested once its type has this much history —
    * running stats on a near-empty prefix flag everything. */
  val AnomMinPriorN = 30L

  /** ONLINE anomaly detection — the streaming counterpart of
    * `Curation.outliers`: per event type the carried state is the
    * exact running (count, Σv6, Σv6²) and each arriving event is
    * 3σ-tested against the statistics of its PREDECESSORS (the online
    * monitor's frame — the batch audit uses final whole-corpus stats,
    * so the two operators answer different questions and keep separate
    * oracles). The test is the same cross-multiplied no-division
    * integer comparison ((n·v6 − s6)² > 9(n·q6 − s6²)); sums live in
    * BigInt (Σv6² overflows a long at ~10⁵ events/type), serialized as
    * decimal strings in the 3-field keyed state — the DuckDB oracle
    * replicates the prefix frame with HUGEINT running windows,
    * bit-exactly.
    *
    * v6 parity: `BigDecimal.valueOf(value).setScale(6, HALF_UP)` is
    * the same toString-based conversion Spark's double→DECIMAL(18,6)
    * cast performs.
    *
    * Scale: state is three numbers per event TYPE (a handful of keys);
    * output is the append-only alarm stream. Per-key in-batch ordering
    * by the arrival key, cross-batch ordering from the source — the
    * [[cusumStateful]] contract. */
  def anomalyStateful(events: Dataset[AnomEv]): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomSt, AnomOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, it: Iterator[AnomEv], state: GroupState[AnomSt]) =>
          val st = state.getOption.getOrElse(AnomSt(0L, "0", "0"))
          var n = st.n
          var s6 = BigInt(st.s6)
          var q6 = BigInt(st.q6)
          val out = it.toSeq.sortBy(_.event_id).flatMap { e =>
            val v6 = BigInt(java.math.BigDecimal.valueOf(e.value)
              .setScale(6, java.math.RoundingMode.HALF_UP).unscaledValue())
            val flagged = n >= AnomMinPriorN && {
              val dev = BigInt(n) * v6 - s6
              dev * dev > 9 * (BigInt(n) * q6 - s6 * s6)
            }
            n += 1; s6 += v6; q6 += v6 * v6
            if (flagged) Some(AnomOut(e.event_id, tpe, e.value)) else None
          }
          state.update(AnomSt(n, s6.toString, q6.toString))
          out.iterator
      }
  }

  /** Driver-surface run of [[anomalyStateful]]: [[runAvailableNow]],
    * total order on the arrival key. */
  def anomalyStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .select(col("event_type"), col("event_id"), col("value"))
      .as[AnomEv]
    val q = anomalyStateful(ev).toDF()
    runAvailableNow(s, q, "anomaly").select("event_id", "event_type", "value").orderBy("event_id")
  }

  // ------------------------------------------------------------------
  // streaming lateness monitor (running-max keyed state)
  // ------------------------------------------------------------------

  case class LateEv(user_id: Long, event_id: Long, ets: Long)
  case class LateOut(user_id: Long, event_id: Long, late_us: Long)

  /** Stateful streaming twin of `Curation.lateness`'s measurement leg:
    * per user the ENTIRE carried state is one Long — the running max
    * event time — and each arriving event emits how far it lags it
    * (the quantity a watermark must cover). The batch operator's window
    * recurrence is the same fold, so the two share ONE oracle; the
    * driver surface re-applies the batch histogram/planner tail to the
    * emitted per-event stream. Ordering contract: [[cusumStateful]]'s
    * (in-batch sort per user, ordered files across batches).
    *
    * Scale: 8 bytes of state per user, append-only output — this IS
    * the online watermark-lag monitor a streaming platform exposes as
    * a metric, built from the same parts as the offline planner. */
  def latenessStateful(events: Dataset[LateEv]): Dataset[LateOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[Long, LateOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, it: Iterator[LateEv], state: GroupState[Long]) =>
          var runmax = state.getOption.getOrElse(Long.MinValue)
          val out = it.toSeq.sortBy(_.event_id).map { e =>
            val late =
              if (runmax == Long.MinValue) 0L
              else math.max(0L, runmax - e.ets)
            runmax = math.max(runmax, e.ets)
            LateOut(uid, e.event_id, late)
          }
          state.update(runmax)
          out.iterator
      }
  }

  /** Driver-surface run of [[latenessStateful]]: the same salted frame,
    * [[runAvailableNow]], then the batch histogram tail — SAME
    * oracle as `events_lateness`. */
  def latenessStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = graft.operators.Curation
      .saltedEventTimes(readEventStream(ss, d))
      .as[LateEv]
    val q = latenessStateful(ev).toDF()
    graft.operators.Curation.latenessHistogramOn(
      runAvailableNow(s, q, "latemon").select("late_us"))
  }

  // ------------------------------------------------------------------
  // streaming per-window top-k (event-time-timeout keyed state)
  // ------------------------------------------------------------------

  /** Leaders emitted per finalized hour window. */
  val TopkStreamK = 5

  case class TopkEv(ts: java.sql.Timestamp, user_id: Long)
  case class TopkOut(window_h: Long, rank: Int, user_id: Long,
      n_events: Long, n_users: Long)

  /** STREAMING WINDOWED TOP-K — per hour window the [[TopkStreamK]]
    * most active users, emitted when the watermark closes the window:
    * the leaderboard shape (trending items, heaviest keys) that plain
    * windowed aggregation cannot express because ranking needs the
    * window's COMPLETE count table. Keyed state per window holds the
    * user→count map (exactly the rows a streaming (window × user) agg
    * would hold — same state bound, the watermark horizon) and an
    * EVENT-TIME TIMEOUT at window end fires once the watermark passes
    * it, emitting ranks (count DESC, user ASC — total) and the
    * window's exact distinct-user count, then dropping the state.
    *
    * Finalization contract: flatMapGroupsWithState times out when
    * `timeout < watermark` STRICTLY, with the watermark the ms-floored
    * max event time minus 30 min ([[windowedCountsStreamVerified]]'s
    * contract, strict rather than ≤) — the oracle applies the
    * identical cutoff, so open trailing windows are intentionally
    * absent from BOTH engines.
    *
    * Scale: state is hash-partitioned by window; each window's map is
    * its active-user set — the same cardinality the equivalent
    * two-stage batch agg shuffles, paid incrementally; emission is
    * k + nothing (the map dies with the timeout). At production scale
    * wide windows shard by (window, user-salt) with a second-level
    * merge, the [[graft.operators.Relational]] salted-agg pattern. */
  def topkStateful(events: Dataset[TopkEv]): Dataset[TopkOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => tsMicros(e.ts) / 3600000000L)
      .flatMapGroupsWithState[Map[Long, Long], TopkOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (wh: Long, it: Iterator[TopkEv], state: GroupState[Map[Long, Long]]) =>
          if (state.hasTimedOut) {
            val m = state.get
            state.remove()
            val top = m.toSeq
              .sortBy { case (u, n) => (-n, u) }.take(TopkStreamK)
            top.iterator.zipWithIndex.map { case ((u, n), i) =>
              TopkOut(wh, i + 1, u, n, m.size.toLong)
            }
          } else {
            var m = state.getOption.getOrElse(Map.empty[Long, Long])
            it.foreach { e =>
              m = m.updated(e.user_id, m.getOrElse(e.user_id, 0L) + 1L)
            }
            state.update(m)
            // fires once the watermark passes the window END strictly
            state.setTimeoutTimestamp((wh + 1) * 3600000L)
            Iterator.empty
          }
      }
  }

  /** Driver-surface run of [[topkStateful]]: [[runAvailableNow]],
    * hour label formatted like the windowed-agg queries. */
  def topkStreamVerified(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ss = streamSession(s)
    val ev = readEventStream(ss, d)
      .withWatermark("ts", "30 minutes")
      .select(col("ts"), col("user_id"))
      .as[TopkEv]
    val q = topkStateful(ev).toDF()
    runAvailableNow(s, q, "topk").select(
        date_format((col("window_h") * 3600).cast("timestamp"),
          "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("rank"), col("user_id"), col("n_events"), col("n_users"))
      .orderBy("hour_start", "rank")
  }
}
