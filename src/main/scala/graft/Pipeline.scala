package graft

import graft.formats.{Warc, ZipNum}
import graft.functions.GraftFunctions
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's whole three-job pipeline as Spark plans
  * (SURVEY §3.3 "Spark shape"):
  *
  *   indexwarcsjob.py  -> [[cdxLines]]   (scan WARC members, derive CDX)
  *   samplecdxjob.py   -> (deleted)      (RangePartitioner samples the
  *                                        persisted lines)
  *   zipnumclusterjob  -> [[ZipNum.write]] (range exchange + local sort +
  *                                          gzip blocks + cluster.idx)
  *
  * [[warcToZipNum]] materializes job 1 as the reference does: it persists
  * the CDX lines, so the range sampler and the map stage both read them
  * instead of decoding every archive twice. One shuffle total — the range
  * exchange — exactly the reference's single Hadoop shuffle. At 100 TB
  * the WARC scan parallelizes per packed group of small files, or per
  * byte range for a file larger than its share of the input, the
  * exchange is skew-managed by AQE, and the driver only ever holds
  * cluster.idx (~1/linesPerBlock of the data).
  */
object Pipeline {

  /** WARC files -> CDXJ lines (`urlkey SP ts SP {json}`), the job-1
    * derivation: keep response/revisit records, SURT-key the URL via the
    * native codegen expression, re-encode the digest, pack the JSON. */
  def cdxLines(spark: SparkSession, warcGlob: String): DataFrame = {
    GraftFunctions.register(spark)
    Warc.scan(spark, warcGlob)
      .filter(col("record_type").isin("response", "revisit") &&
        col("url").isNotNull && col("ts").isNotNull)
      .selectExpr(
        "surt_key_native(url) AS urlkey",
        "ts",
        "to_json(named_struct(" +
          // pywb convention: a revisit row's mime IS the marker
          "'url', url, 'mime', CASE WHEN record_type = 'revisit' " +
          "THEN 'warc/revisit' ELSE coalesce(mime, '-') END, " +
          "'status', coalesce(CAST(status AS STRING), '-'), " +
          "'digest', coalesce(digest, '-'), " +
          "'length', CAST(length AS STRING), " +
          "'offset', CAST(offset AS STRING), " +
          "'filename', filename)) AS json")
      .filter(col("urlkey").isNotNull)
      .selectExpr("concat(urlkey, ' ', ts, ' ', json) AS line")
  }

  /** WARC glob -> deduplicated training-corpus frame: MAIN-CONTENT HTML
    * extraction (ops/Html.extractMain — boilerplate/nav/footer/link-farm
    * blocks removed BEFORE the gates, the C4/Gopher/RefinedWeb order, so
    * chrome never inflates downstream token counts), quality +
    * fingerprint columns (ops/Text), then exact dedup by content hash
    * keeping the EARLIEST capture — the corpus-side mirror of revisit
    * resolution (same digest⇒same content idea the WARC format encodes).
    * All narrow ops plus one hash aggregation; at 100 TB the dedup
    * groupBy is the only exchange. */
  def warcToCorpus(spark: SparkSession, warcGlob: String, minTokens: Int = 2): DataFrame =
    keepEarliestPerHash(
      graft.ops.Html.extractMain(Warc.scan(spark, warcGlob))
        .filter(col("n_tokens") >= minTokens)
        .withColumn("quality", graft.ops.Text.qualityScore(col("text")))
        .withColumn("fingerprint", graft.ops.Text.fingerprint(col("text"))))

  /** exact dedup keeping the EARLIEST capture per content hash — ONE
    * definition for both corpus producers, so a change to the dedup key
    * or tie-break can't silently diverge their keeper sets */
  private def keepEarliestPerHash(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("ts"), col("url"))
    docs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
  }

  /** WET (extracted-text conversion records) -> documents-shaped corpus:
    * the Common Crawl companion format skips HTML extraction entirely —
    * `record_type == 'conversion'` payloads ARE the text (UTF-8 by the
    * WET convention, so a binary->string cast decodes them in codegen).
    * Same output shape as [[warcToCorpus]] minus title/charset, and like
    * it ends with exact dedup keeping the earliest capture per content
    * hash — a drop-in swap must not silently feed duplicates downstream.
    *
    * The emptiness gate is CHARACTER-based: real WET is full of CJK/
    * Cyrillic/Arabic text that the ASCII `[a-z0-9]` tokenizer counts as
    * zero tokens, so a token-count gate would silently drop whole
    * languages. `n_tokens` stays as a column (the Latin-centric quality
    * heuristics downstream use it knowingly) but never gates inclusion. */
  def wetToCorpus(spark: SparkSession, wetGlob: String, minChars: Int = 8): DataFrame =
    keepEarliestPerHash(
      Warc.scan(spark, wetGlob)
        .filter(col("record_type") === "conversion")
        .select(col("url"), col("ts"), col("payload").cast("string").as("text"))
        .filter(length(trim(col("text"))) >= minChars)
        .withColumn("n_tokens", graft.ops.Text.wordCount(col("text")))
        .withColumn("quality", graft.ops.Text.qualityScore(col("text")))
        .withColumn("fingerprint", graft.ops.Text.fingerprint(col("text"))))

  /** WAT (response-metadata JSON records) -> per-capture link edges: the
    * Common Crawl *.warc.wat.gz envelope parsed ONCE with from_json over
    * a nested schema (a per-path get_json_object would re-run a full
    * Jackson parse of the multi-KB payload per extracted field — 4× the
    * CPU on a path meant for 100 TB web-graph extraction), then one
    * explode for the link fan-out. `src` reuses the WARC-Target-URI the
    * scan already parsed from the record header (col("url")). The
    * (src, dst) edge list is what web-graph jobs (PageRank, host-level
    * link analysis) consume at scale. */
  def watLinks(spark: SparkSession, watGlob: String): DataFrame = {
    import org.apache.spark.sql.types._
    val linkType = ArrayType(StructType(Seq(
      StructField("path", StringType), StructField("url", StringType))))
    val htmlMeta = StructType(Seq(
      StructField("Head", StructType(Seq(StructField("Title", StringType)))),
      StructField("Links", linkType)))
    val envSchema = StructType(Seq(StructField("Envelope", StructType(Seq(
      StructField("Payload-Metadata", StructType(Seq(
        StructField("HTTP-Response-Metadata", StructType(Seq(
          StructField("HTML-Metadata", htmlMeta))))))))))))
    val html = col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.`HTML-Metadata`")
    // ONE materialized parse. Two optimizer behaviors would silently
    // re-run the full multi-KB parse per record and have to be designed
    // around (WarcSpec pins JsonToStructs == 1 in the optimized plan):
    //  - CollapseProject inlines the from_json per consumer when parse
    //    and extraction share a projection — so extract title ABOVE the
    //    Generate, which keeps `env` a materialized column (its output
    //    feeds both the generator and the post-explode projection);
    //  - InferFiltersFromGenerate synthesizes size(links)>0 / isnotnull
    //    predicates from a plain explode and pushes them below the
    //    projection, inlining TWO more parses into the Filter — so
    //    explode_outer (nothing to infer) + a cheap post-hoc null filter
    //    on the generated column restores the same row semantics.
    Warc.scan(spark, watGlob)
      .filter(col("record_type") === "metadata")
      .select(col("url").as("src"), col("ts"),
        from_json(col("payload").cast("string"), envSchema).as("env"))
      .select(col("src"), col("ts"), col("env"),
        explode_outer(html.getField("Links")).as("link"))
      .select(col("src"), col("ts"),
        html.getField("Head").getField("Title").as("title"),
        col("link.url").as("dst"))
      .filter(col("dst").isNotNull)
  }

  /** WARC responses -> the WET sidecar's record frame (shard, url, ts,
    * text) — the GENERATION twin of [[wetToCorpus]], feeding
    * [[graft.formats.WarcSink.writeWet]]. Same page gate and extraction
    * as [[graft.ops.Html.extract]] (response/200/html, per-row charset,
    * full text — WET carries the whole page's text, boilerplate removal
    * is the CORPUS pipeline's job); kept in lockstep by the WarcSpec
    * round-trip golden (wetToCorpus over the written sidecar must equal
    * the extraction over the original WARC). Pages whose extraction is
    * empty write no record, like the Common Crawl generator. All
    * map-side codegen'd HOFs — the only exchange is writeWet's shard
    * repartition. */
  def toWet(warc: DataFrame): DataFrame = {
    val cs = graft.ops.Html.charsetOf(col("mime"))
    val html = graft.ops.Html.decodePayload(col("payload"), cs)
    graft.ops.Html.htmlResponses(warc)
      .select(col("filename").as("shard"), col("url"), col("ts"),
        graft.ops.Html.text(html).as("text"))
      .filter(length(trim(col("text"))) > 0)
  }

  /** the Common Crawl WAT JSON envelope ([[watLinks]]'s parse schema, in
    * the WRITE direction): title + outlink urls under
    * Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata,
    * plus the WARC-Header-Metadata block real WAT carries. `dsts` is an
    * array<string> of resolved outlink URLs. Null titles are omitted
    * from the JSON (to_json drops null fields), which from_json reads
    * back as null — the round trip is exact.
    *
    * `headers` (optional, map<string,string>) completes the envelope
    * with the HTTP RESPONSE HEADER block real WAT carries
    * (Envelope.Payload-Metadata.HTTP-Response-Metadata.Headers), and
    * `warcinfo` (map<string,string>) the crawl-metadata block
    * (Payload-Metadata.WARC-Info-Metadata). Both are APPENDED struct
    * fields built only when passed, so every envelope written without
    * them stays byte-identical (existing wat goldens/hashes unchanged);
    * [[watHeaders]] reads them back. */
  def watEnvelope(
      url: Column, ts: Column, title: Column, dsts: Column,
      headers: Column = null, warcinfo: Column = null): Column = {
    val iso = concat(
      substring(ts, 1, 4), lit("-"), substring(ts, 5, 2), lit("-"), substring(ts, 7, 2),
      lit("T"), substring(ts, 9, 2), lit(":"), substring(ts, 11, 2),
      lit(":"), substring(ts, 13, 2), lit("Z"))
    val htmlMeta = struct(
      struct(title.as("Title")).as("Head"),
      transform(dsts, d =>
        struct(lit("A@/href").as("path"), d.as("url"))).as("Links")
    ).as("HTML-Metadata")
    val httpMeta = struct(
      Seq(htmlMeta) ++ Option(headers).map(_.as("Headers")): _*
    ).as("HTTP-Response-Metadata")
    val payloadMeta = struct(
      Seq(httpMeta) ++ Option(warcinfo).map(_.as("WARC-Info-Metadata")): _*
    ).as("Payload-Metadata")
    to_json(struct(
      struct(
        struct(url.as("WARC-Target-URI"), iso.as("WARC-Date"))
          .as("WARC-Header-Metadata"),
        payloadMeta
      ).as("Envelope")))
  }

  /** WAT response-header read-back — [[watLinks]]'s sibling over the
    * header block [[watEnvelope]]'s `headers` argument writes: one row
    * per (src, ts, name, value) header entry. Same single-materialized-
    * parse discipline as watLinks (one from_json; explode_outer so
    * InferFiltersFromGenerate can't inline extra parses; post-hoc null
    * filter restores plain-explode row semantics). Header-less records
    * contribute no rows. */
  def watHeaders(spark: SparkSession, watGlob: String): DataFrame = {
    import org.apache.spark.sql.types._
    val headersField =
      StructField("Headers", MapType(StringType, StringType))
    val envSchema = StructType(Seq(StructField("Envelope", StructType(Seq(
      StructField("Payload-Metadata", StructType(Seq(
        StructField("HTTP-Response-Metadata", StructType(Seq(headersField)))))))))))
    val hdrs = col("env.Envelope.`Payload-Metadata`.`HTTP-Response-Metadata`.Headers")
    Warc.scan(spark, watGlob)
      .filter(col("record_type") === "metadata")
      .select(col("url").as("src"), col("ts"),
        from_json(col("payload").cast("string"), envSchema).as("env"))
      .select(col("src"), col("ts"),
        explode_outer(hdrs).as(Seq("name", "value")))
      .filter(col("name").isNotNull)
  }

  /** WARC responses -> the WAT sidecar's record frame (shard, url, ts,
    * meta) — the GENERATION twin of [[watLinks]], feeding
    * [[graft.formats.WarcSink.writeWat]]: per page, title
    * ([[graft.ops.Html.title]]) and resolved outlinks
    * ([[graft.ops.Html.links]] — the same extraction behind html_links)
    * packed into [[watEnvelope]]. Link-less pages still write a record
    * (real WAT inventories every response); their Links array is empty
    * and contributes no edges on read-back. */
  def toWat(warc: DataFrame): DataFrame = {
    val cs = graft.ops.Html.charsetOf(col("mime"))
    val html = graft.ops.Html.decodePayload(col("payload"), cs)
    graft.ops.Html.htmlResponses(warc)
      .select(col("filename").as("shard"), col("url"), col("ts"),
        watEnvelope(col("url"), col("ts"),
          graft.ops.Html.title(html),
          transform(graft.ops.Html.links(html, col("url")), _.getField("dst"))
        ).as("meta"))
  }

  /** The composed near-dup curation flow over a `(doc_id, lang, text)`
    * corpus — the decision pipeline a training-data job runs after
    * [[warcToCorpus]]'s exact dedup:
    *
    *   quality-quantile gate (per-lang p25, broadcast threshold)
    *   → minhash-LSH candidate pairs (fused codegen signatures)
    *   → connected components (pointer-jumping min-label)
    *   → keep the highest-quality doc per cluster (singletons kept).
    *
    * Shuffle inventory at 100 TB: one tiny per-lang aggregation
    * (broadcast back), the banded LSH equi-join, the O(log diameter)
    * component rounds, and one final window by cluster — no corpus-wide
    * sort, no cross join, no driver-side data. Returns the kept docs
    * with (cluster_id, cluster_size, quality). */
  def curateCorpus(
      docs: DataFrame,
      qualityQuantile: Double = 0.25,
      nHashes: Int = 16, bands: Int = 4, shingleSize: Int = 3,
      exactThreshold: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // reuse an upstream quality column when the producer (warcToCorpus /
    // wetToCorpus) already paid the O(text) scoring pass; localCheckpoint
    // because scored feeds BOTH the threshold aggregation and the gated
    // join — uncheckpointed lineage would run the scoring kernel twice
    val scored = (
      if (docs.columns.contains("quality"))
        docs.select(col("doc_id"), col("lang"), col("text"), col("quality"))
      else
        docs.select(col("doc_id"), col("lang"), col("text"))
          .withColumn("quality", graft.ops.Text.qualityScore(col("text")))
      ).localCheckpoint()
    // Default approx_percentile, NOT exact percentile: the exact form
    // buffers every quality value per language group — unbounded agg
    // state when one 'en' group spans most of a 100 TB corpus. The trade:
    // QuantileSummaries merge order varies with task scheduling, so the
    // threshold (and docs sitting exactly on it) can flip between runs.
    // exactThreshold=true buys run-to-run determinism at the memory cost
    // — right for tests/small corpora (pipeline_near_dedup uses it so the
    // driver's row check is stable), wrong as the 100 TB default.
    val thrAgg =
      if (exactThreshold) expr(s"percentile(quality, $qualityQuantile)")
      else expr(s"approx_percentile(quality, $qualityQuantile, 10000)")
    val thr = scored.groupBy("lang").agg(round(thrAgg, 6).as("qthr"))
    // materialized: feeds the LSH join, the component vertices, AND the
    // final keeper join — three consumers of one scan+gate
    val gated = scored.join(broadcast(thr), "lang")
      .filter(col("quality") >= col("qthr"))
      .localCheckpoint()
    val pairs = graft.ops.Dedup.minhashCandidates(
      gated, "doc_id", "text", nHashes, bands, shingleSize)
    val clusters = graft.ops.Dedup
      .resolveClusters(gated.select(col("doc_id").as("v")), pairs)
      .select(col("v").as("doc_id"), col("rep").as("cluster_id"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality").desc, col("doc_id"))
    gated.join(clusters, "doc_id")
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy("cluster_id")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "quality", "cluster_id", "cluster_size")
  }

  /** full pipeline: WARC glob -> ZipNum cluster under `outDir`. The CDX
    * lines are derived once and persisted for the write, whose range
    * sampler and map stage both read them; the blocks are freed when the
    * write returns or throws. */
  def warcToZipNum(
      spark: SparkSession, warcGlob: String, outDir: String,
      shards: Int = 8, linesPerBlock: Int = 3000): Unit =
    Tables.withPersisted(cdxLines(spark, warcGlob))(ZipNum.write(_, outDir, shards, linesPerBlock))

  /** The reference's mrjob `increment_counter` calls as Spark-native
    * observed metrics (indexwarcsjob.py §mapper counters, recon ~L90–110):
    * attach zero-cost named aggregates to the CDX derivation; after any
    * action on the returned frame, `observation.get` yields the counters
    * — `n_lines` (CDX lines kept), `approx_urlkeys` (HLL distinct key
    * estimate), `total_line_bytes` (UTF-8 output bytes) — without a
    * second pass over the data.
    */
  def cdxLinesObserved(spark: SparkSession, warcGlob: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation("cdx_ingest")
    val observed = cdxLines(spark, warcGlob).observe(
      obs,
      count(lit(1)).as("n_lines"),
      approx_count_distinct(
        expr("try_element_at(split(line, ' ', 3), 1)")).as("approx_urlkeys"),
      // octet_length: bytes, not codepoints — non-ASCII URLs are common
      sum(octet_length(col("line"))).as("total_line_bytes"))
    (observed, obs)
  }

  /** Continuous ingest (the reference's `--skip-existing` re-run loop as a
    * stream): CDX line files arriving under `inDir` are parsed and
    * appended to a parquet index table, exactly-once via the checkpoint
    * (file-source offsets + sink commit log). `Trigger.AvailableNow`
    * drains everything currently present and stops — the batch-job shape —
    * while the same call with a processing-time trigger runs forever.
    *
    * Scale notes: the file source lists `inDir` incrementally (maxFiles
    * per batch bounded by `maxFilesPerTrigger`); parsing is narrow
    * (per-line split, no shuffle), so the stream's only state is the
    * source's seen-files log — no watermark needed until an aggregation
    * is composed downstream (see [[graft.streaming.StreamOps]]).
    */
  def streamingCdxIngest(
      spark: SparkSession, inDir: String, outDir: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 1000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(inDir)
      .select(Cdx.lineCols(org.apache.spark.sql.functions.col("value")): _*)
      // lineCols parses permissively (try_element_at — a throwing row
      // would poison the checkpoint), so malformed lines surface as
      // null/empty fields: drop them HERE, or they append to the serving
      // index as null-ts rows the batch pipeline can never produce
      .filter(org.apache.spark.sql.functions.col("urlkey").isNotNull &&
        org.apache.spark.sql.functions.col("urlkey") =!= "" &&
        org.apache.spark.sql.functions.col("ts").isNotNull &&
        org.apache.spark.sql.functions.col("json").isNotNull)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** Continuous ZipNum indexing: each micro-batch of arriving CDX lines
    * becomes its own (small, sorted) cluster under `outBase/batch-N`;
    * [[graft.formats.ZipNum.mergeSorted]] periodically compacts them into the
    * serving cluster — the streaming form of the reference's re-run-with-
    * --skip-existing loop, with the source's offset log as the skip set.
    * A cluster itself can't be appended to (total order), so batch-then-
    * merge IS the incremental contract; exactly-once comes from
    * foreachBatch's batchId-keyed output dirs (a replayed batch
    * overwrites its own dir, never a neighbor's). */
  def streamingZipNumBatches(
      spark: SparkSession, inDir: String, outBase: String,
      checkpointDir: String, shards: Int = 4, linesPerBlock: Int = 3000)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    spark.readStream
      .text(inDir)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          ZipNum.write(
            batch.toDF("line"), f"$outBase/batch-$batchId%05d", shards, linesPerBlock)
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /** One micro-batch of the streaming near-dedup ingest — public so a
    * crash replay is testable as a plain function call. Two dedup stages:
    * (1) batch-internal near-dups via the in-memory LSH self-join (the
    * larger doc_id of each candidate pair drops); (2) survivors against
    * the STORED minhash index via the exchange-free bucketed probe
    * ([[graft.ops.Dedup.incrementalCandidates]] — the corpus side never
    * moves). Keepers land in a batchId-keyed corpus dir (overwrite, so a
    * replayed batch rewrites its own dir — exactly-once for the corpus,
    * same contract as [[streamingZipNumBatches]]) and their banded rows
    * INSERT INTO the index. Index self-hits (a == b: a doc already folded
    * in by this very batch's first, crashed attempt) are ignored, so a
    * replay converges to the SAME keeper set instead of dropping every
    * keeper as a duplicate of itself; the re-appended banded rows are
    * harmless duplicates (candidate pairs are distinct()ed) that the
    * periodic index rebuild compacts away.
    *
    * Contract: doc_ids must be GLOBALLY unique across the stream, not
    * just within a batch — the self-hit filter above cannot tell "my own
    * crashed first attempt" from "a distinct stored document that happens
    * to reuse my id", so an id collision silently skips dedup against
    * that stored doc. (The offset-log/replay reasoning already assumes
    * this; it is the caller's id-minting obligation.)
    *
    * Degenerate buckets: BOTH passes apply the same cap — the in-batch
    * pass via [[graft.ops.Dedup.minhashCandidates]]'s maxBucketSize, the
    * index probe via [[graft.ops.Dedup.incrementalCandidates]]'s COMBINED
    * (index + batch) bucket count, so a bucket that straddles the cap
    * across the index boundary is dropped by the same rule a full-batch
    * self-join would apply. Replay consequence: keeper sets can still
    * differ inside buckets whose size crossed the cap BETWEEN the first
    * attempt and the replay (the appended keepers count toward the
    * combined total) — buckets the cap already declares
    * degenerate-by-policy; the periodic rebuild re-caps them. */
  def dedupIngestBatch(
      batch: DataFrame, table: String, corpusBase: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    // consumed by two dedup passes + the anti-join; foreachBatch hands us
    // a one-shot relation, so pin it
    val b = batch.localCheckpoint()
    val innerDrop = graft.ops.Dedup.minhashCandidates(b, "doc_id", "text")
      .select(col("b").as("doc_id"))
    val indexDrop = graft.ops.Dedup
      .incrementalCandidates(spark, table, b, "doc_id", "text")
      .filter(col("a") =!= col("b"))
      .select(col("b").as("doc_id"))
    // the drop list is bounded by the BATCH, but the batch is bounded
    // only by the caller's trigger settings — no forced broadcast() here:
    // a backlog-draining first micro-batch can make the drop list
    // arbitrarily large, and a forced broadcast would override
    // autoBroadcastJoinThreshold into a driver OOM. AQE converts the
    // anti-join to a broadcast join at runtime whenever the list is
    // actually small, which is the common steady-state case.
    val keep = b.join(
        innerDrop.unionByName(indexDrop).distinct(),
        Seq("doc_id"), "left_anti")
      .localCheckpoint() // write + index append both consume it
    keep.write.mode("overwrite").parquet(f"$corpusBase/batch-$batchId%05d")
    graft.ops.Dedup.appendToMinhashIndex(keep, "doc_id", "text", table)
  }

  /** Streaming near-dedup ingest: every arriving batch of (doc_id, text)
    * documents dedups against the stored minhash index AND folds its
    * survivors back in, so batch N+1 deduplicates against everything
    * batch N kept — including within-stream duplicates a static index
    * never sees. The streaming form of the daily-ingest loop: the
    * source's offset log is the skip set, [[dedupIngestBatch]] the
    * per-batch transactional unit. At 100 TB the index side of every
    * probe stays exchange-free (bucketed on the band key) and the only
    * shuffle is the arriving batch's. */
  def streamingDedupIngest(
      docs: DataFrame, table: String, corpusBase: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) dedupIngestBatch(batch, table, corpusBase, batchId)
      }
      .option("checkpointLocation", checkpointDir)
      .start()

  /** compact every `batch-*` cluster under `outBase` into `servingDir` */
  def compactBatches(
      spark: SparkSession, outBase: String, servingDir: String,
      shards: Int = 8, linesPerBlock: Int = 3000): Unit = {
    val fs = new Path(outBase).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirs = fs.listStatus(new Path(outBase))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch-"))
      .map(_.getPath.toString).sorted.toSeq
    require(batchDirs.nonEmpty, s"no batch-* clusters under $outBase")
    ZipNum.mergeSorted(spark, batchDirs, servingDir, shards, linesPerBlock)
  }
}
