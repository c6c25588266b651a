package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.formats.ZipNum
import graft.sources.{FoldLocalRelation, ZipNumScan}
import org.apache.spark.sql.{DataFrame, GraftDatasets, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{JoinedRow, Literal}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LocalRelation, LogicalPlan, Repartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The pywb cdx-server query surface (SURVEY §2.9 — the consumer contract
  * the reference's output format exists to serve), answered natively over
  * a ZipNum cluster through the V2 source, so every lookup rides on
  * cluster.idx block pruning.
  *
  * Parameter mapping (pywb cdx-server → method):
  *   url=...&matchType=exact    -> exactUrl
  *   matchType=prefix|host|domain -> prefix / host / domain
  *   from=...&to=...            -> captures(from, to)
  *   sort=closest&closest=ts    -> closest
  *   collapse=timestamp:N       -> collapse
  *   filter=status:200 etc.     -> withFilter (plain Column predicates)
  *   fl=urlkey,timestamp        -> withFields (output projection)
  *   limit=N / sort=reverse     -> limit / latest
  *
  * The sort-shaped lookups (exactUrl, captures, prefix, host, domain,
  * closest) are each one description over the response columns plus the
  * call's values as parameter columns. The server analyzes each
  * description once, over a row-less leaf, the first time it serves that
  * shape; the session time zone `closest` parses with is read then. A
  * lookup whose idx selection is at most [[ZipNumScan.BlocksPerPartition]]
  * blocks reads those blocks on the driver when its DataFrame is built,
  * keeping only the lines under its urlkey prefix (or of its exact key),
  * evaluates the analyzed description over them with
  * [[FoldLocalRelation.fold]] and returns one DataFrame over the result
  * rows: no analysis of the lookup's operators, no Spark job. Larger
  * selections apply the same description to the parallel V2 scan, which
  * reads its blocks when the action runs. The other lookups compose
  * DataFrame operators over a sort-shaped lookup's result.
  */
final class CdxServer(spark: SparkSession, clusterDir: String) {

  /** idx entries for a prefix, via [[ZipNum.scanIdxRange]]'s seek-based
    * binary search — O(result) driver memory and I/O per query, never the
    * whole idx (tens of millions of lines at 100 TB; a lookup needs a
    * handful). Each query re-reads its idx range, so the server is
    * stateless and always serves the current cluster version; as with
    * pywb, paginating ACROSS an in-place cluster rewrite is undefined
    * (offsets move under the client) — rewrite to a new dir instead. */
  private def idxFor(surtPrefix: String): Seq[ZipNum.IdxEntry] = {
    val (lo, hi) = ZipNum.prefixBounds(surtPrefix)
    ZipNum.scanIdxRange(
      clusterDir, spark.sparkContext.hadoopConfiguration, lo, hi)
  }

  /** the V2 relation, projected to the pywb response fields: the source
    * also exposes its internal `blockseq` ordering column, which must
    * never leak into a server response (caught by the CdxMatrixSpec
    * parameter sweep). Resolved once per server; every query still
    * builds its own scan, which re-reads cluster.idx. */
  private lazy val relation: DataFrame =
    spark.read.format("zipnum").load(clusterDir).select(CdxServer.Response.map(col): _*)

  private val shapesAnalyzed = new AtomicInteger

  /** how many lookup shapes this server has analyzed */
  private[graft] def analyzedShapes: Int = shapesAnalyzed.get

  /** One sort-shaped lookup: `describe` over a frame of the response
    * columns and the parameter columns, analyzed once over a row-less
    * leaf. Analysis leaves runtime-replaceable expressions (such as
    * `try_to_timestamp`) for the optimizer, so they are replaced here,
    * once, and the plan is evaluable as it stands. An `exactKey` shape
    * reads only the lines of the key `p_key`; any other reads every line
    * under it. */
  private final class Shape(val exactKey: Boolean)(val describe: DataFrame => DataFrame) {
    shapesAnalyzed.incrementAndGet()
    private val plan: LogicalPlan = ReplaceExpressions(describe(GraftDatasets.ofRows(spark,
      LocalRelation(DataTypeUtils.toAttributes(CdxServer.leafSchema))))
      .select(CdxServer.Response.map(col): _*).queryExecution.analyzed)

    /** the analyzed plan over `rows` under coalesce(1), in place of the
      * row-less leaf */
    def over(rows: Seq[InternalRow]): LogicalPlan = plan.transformUp {
      case leaf: LocalRelation => Repartition(1, shuffle = false, leaf.copy(data = rows))
    }
  }

  private lazy val exactShape = new Shape(exactKey = true)(
    _.filter(col("urlkey") === col("p_key")).orderBy("ts"))
  private lazy val capturesShape = new Shape(exactKey = true)(
    _.filter(col("urlkey") === col("p_key") &&
      col("ts") >= col("p_from") && col("ts") <= col("p_to")).orderBy("ts"))
  private lazy val prefixShape = new Shape(exactKey = false)(_.orderBy("urlkey", "ts"))
  private lazy val domainShape = new Shape(exactKey = false)(
    _.filter(col("urlkey").startsWith(concat(col("p_key"), lit(")"))) ||
      col("urlkey").startsWith(concat(col("p_key"), lit(","))))
      .orderBy("urlkey", "ts"))
  // try_to_timestamp, not to_timestamp: under Spark 4's default ANSI
  // mode one malformed ts in the cluster would abort the whole query;
  // a null dist sorts LAST so a corrupt row can never be the "best".
  // The distance is ordering-only: the response drops it
  private lazy val closestShape = new Shape(exactKey = true)(
    _.filter(col("urlkey") === col("p_key"))
      .withColumn("dist", abs(
        unix_timestamp(try_to_timestamp(col("ts"), lit("yyyyMMddHHmmss"))) -
          unix_timestamp(try_to_timestamp(col("p_target"), lit("yyyyMMddHHmmss")))))
      .orderBy(col("dist").asc_nulls_last, col("ts")))

  /** `shape` over the lines under `params.key`, with `params` as its
    * parameter columns and at most `limit` rows. Over a small selection
    * the result is one LocalRelation of the lookup's rows, under
    * coalesce(1) when `single` (the single partition the windows and
    * aggregates composed over it run in). */
  private def lookup(
      shape: Shape, params: CdxServer.Params,
      limit: Option[Int] = None, single: Boolean = false): DataFrame = {
    val blocks = idxFor(params.key)
    if (blocks.size > ZipNumScan.BlocksPerPartition) {
      // the parallel scan runs its own idx search from the pushed filter
      val leaf = relation.filter(col("urlkey").startsWith(params.key)).select(
        col("*") +: CdxServer.ParamColumns.zip(params.values).map { case (name, v) =>
          lit(v).cast(StringType).as(name)
        }: _*)
      val df = shape.describe(leaf).select(CdxServer.Response.map(col): _*)
      limit.fold(df)(df.limit)
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      val values = InternalRow.fromSeq(params.values.map(UTF8String.fromString))
      val rows = ZipNumScan.readRows(
        clusterDir, blocks, CdxServer.Response.toArray, conf, Some(params.key), shape.exactKey)
      val over = shape.over(rows.map(new JoinedRow(_, values)))
      val plan = limit.fold(over)(n => Limit(Literal(n), over))
      GraftDatasets.withActive(spark)(FoldLocalRelation.fold(plan)) match {
        case Some(result) =>
          val r = result.newInstance()
          GraftDatasets.ofAnalyzed(spark, if (single) Repartition(1, shuffle = false, r) else r)
        case None => GraftDatasets.ofRows(spark, plan)
      }
    }
  }

  /** all captures of one canonical URL key, oldest first */
  def exactUrl(urlkey: String): DataFrame = exactRows(urlkey, single = false)

  private def exactRows(urlkey: String, single: Boolean): DataFrame =
    lookup(exactShape, CdxServer.Params(urlkey), single = single)

  /** every capture under a SURT path prefix */
  def prefix(surtPrefix: String): DataFrame = prefixRows(surtPrefix, single = false)

  private def prefixRows(surtPrefix: String, single: Boolean): DataFrame =
    lookup(prefixShape, CdxServer.Params(surtPrefix), single = single)

  /** host-only query (pywb matchType=host): every capture of exactly
    * this host — keys under `com,example)` but NOT subdomains
    * (`com,example,sub)...`), the level between exact and [[domain]] */
  def host(reversedHost: String): DataFrame = prefix(reversedHost + ")")

  /** whole-domain query: all captures under `com,example)` including
    * subdomains (`com,example,sub)...`), i.e. keys starting with the
    * reversed host with either `)` or `,` next */
  def domain(reversedHost: String): DataFrame =
    lookup(domainShape, CdxServer.Params(reversedHost))

  /** time-boxed captures of a key (from/to are 14-digit inclusive bounds) */
  def captures(urlkey: String, from: String, to: String): DataFrame =
    lookup(capturesShape, CdxServer.Params(urlkey, from = from, to = to))

  /** k captures nearest the target timestamp (sort=closest&limit=k);
    * the distance is ordering-only — the result keeps the scan schema
    * (pywb's closest response carries no distance field) */
  def closest(urlkey: String, target: String, k: Int): DataFrame = {
    require(k >= 0, s"closest needs k >= 0, got $k")
    lookup(closestShape, CdxServer.Params(urlkey, target = target), limit = Some(k))
  }

  /** collapse=timestamp:N — first capture per ts-prefix granule per key.
    * Tie-break on json: real clusters hold duplicate (urlkey, ts) runs
    * (see [[pageByKey]]'s cursor note) and a ts-only window would pick
    * an arbitrary peer. Output re-sorted — the prefix() scan order does
    * not survive the window exchange. */
  def collapse(surtPrefix: String, tsPrefixLen: Int): DataFrame = {
    val w = Window
      .partitionBy(col("urlkey"), substring(col("ts"), 1, tsPrefixLen))
      .orderBy("ts", "json")
    prefixRows(surtPrefix, single = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("urlkey", "ts", "json")
  }

  /** collapse=digest — drop a capture when its payload digest equals the
    * PREVIOUS capture's for the same urlkey ("page didn't change since
    * last crawl"); run-length semantics, first capture always kept.
    * Complements [[collapse]] (first-per-timestamp-granule). */
  def collapseDigest(surtPrefix: String): DataFrame = {
    // (ts, json) total order: duplicate (urlkey, ts) peers otherwise
    // make the run-length comparison order-nondeterministic
    val w = Window.partitionBy("urlkey").orderBy("ts", "json")
    prefixRows(surtPrefix, single = true)
      .withColumn("digest", get_json_object(col("json"), "$.digest"))
      .withColumn("prev_digest", lag(col("digest"), 1).over(w))
      .filter(!(col("digest") <=> col("prev_digest")))
      .drop("prev_digest", "digest")
      .orderBy("urlkey", "ts", "json")
  }

  /** latest capture per urlkey under a prefix (sort=reverse&limit=1);
    * (ts, json) desc so duplicate-ts peers resolve deterministically */
  def latest(surtPrefix: String): DataFrame = {
    val w = Window.partitionBy("urlkey").orderBy(col("ts").desc, col("json").desc)
    prefixRows(surtPrefix, single = true)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
      .orderBy("urlkey")
  }

  /** Memento TimeMap rows (RFC 7089 link-format — pywb's /timemap/link/
    * endpoint over the same index): every capture of the URL becomes a
    * memento link with rel position markers (first/last) and an RFC 1123
    * datetime. The datetime is rebuilt from the 14-digit ts by pure
    * substring/CASE arithmetic — date_format's EEE/MMM names are
    * JVM-locale-dependent, which an engine-portable oracle can't rely
    * on. One urlkey-partition window pair finds the first/last capture
    * in the same pass (no second scan). */
  def timemap(urlkey: String): DataFrame = {
    val w = Window.partitionBy("urlkey")
    // invalid ts rows leave the timemap up front: garbage cannot render
    // an RFC 1123 datetime. The rlike alone is NOT enough — a 14-digit
    // calendar-invalid ts (month 13, Feb 30) passes it, and a strict
    // to_date would abort the whole query under default ANSI mode (and
    // the when-chains below would mislabel nulls as Sat/Dec), so the
    // filter also requires try_to_date to parse
    val parsed = try_to_date(substring(col("ts"), 1, 8), "yyyyMMdd")
    val dow = dayofweek(parsed)
    val dowName = when(dow === 1, "Sun").when(dow === 2, "Mon")
      .when(dow === 3, "Tue").when(dow === 4, "Wed").when(dow === 5, "Thu")
      .when(dow === 6, "Fri").otherwise("Sat")
    val mm = substring(col("ts"), 5, 2)
    val monName = when(mm === "01", "Jan").when(mm === "02", "Feb")
      .when(mm === "03", "Mar").when(mm === "04", "Apr").when(mm === "05", "May")
      .when(mm === "06", "Jun").when(mm === "07", "Jul").when(mm === "08", "Aug")
      .when(mm === "09", "Sep").when(mm === "10", "Oct").when(mm === "11", "Nov")
      .otherwise("Dec")
    val rfc = concat(dowName, lit(", "), substring(col("ts"), 7, 2), lit(" "),
      monName, lit(" "), substring(col("ts"), 1, 4), lit(" "),
      substring(col("ts"), 9, 2), lit(":"), substring(col("ts"), 11, 2),
      lit(":"), substring(col("ts"), 13, 2), lit(" GMT"))
    exactRows(urlkey, single = true)
      .filter(col("ts").rlike("^\\d{14}$") &&
        try_to_date(substring(col("ts"), 1, 8), "yyyyMMdd").isNotNull)
      .withColumn("ft", min("ts").over(w))
      .withColumn("lt", max("ts").over(w))
      .withColumn("rel",
        when(col("ts") === col("ft") && col("ts") === col("lt"), "first last memento")
          .when(col("ts") === col("ft"), "first memento")
          .when(col("ts") === col("lt"), "last memento")
          .otherwise("memento"))
      .select(col("ts"), col("rel"),
        concat(lit("<http://memento.example/web/"), col("ts"), lit("/"),
          get_json_object(col("json"), "$.url"), lit(">; rel=\""),
          col("rel"), lit("\"; datetime=\""), rfc, lit("\"")).as("link"))
      .orderBy("ts", "link")
  }

  /** pywb fuzzy-match fallback: an exact-URL MISS retries with the
    * query-stripped key as a prefix (the canonical rule in pywb's
    * fuzzymatcher — drop the querystring, rescan `base?`); a hit
    * suppresses the fallback entirely. The hit test rides in-plan as a
    * broadcast 1-row count — no driver round trip, so the whole
    * two-stage lookup is ONE job and the fallback scan still prunes on
    * the base prefix through cluster.idx. */
  def fuzzyMatch(urlkey: String): DataFrame = {
    val base = urlkey.takeWhile(_ != '?')
    val exact = exactRows(urlkey, single = true)
    val hit = exact.agg(count(lit(1)).as("n_exact"))
    // scan on the bare base so the QUERY-LESS capture of the same URL
    // (urlkey exactly `base` — SURT keys carry no '?' for a bare URL, the
    // most natural fuzzy target) matches too; the filter then excludes
    // unrelated longer paths that share the prefix
    val fallback = prefixRows(base, single = true)
      .filter(col("urlkey") === base || col("urlkey").startsWith(base + "?"))
      .crossJoin(broadcast(hit)).filter(col("n_exact") === 0).drop("n_exact")
    exact.select("urlkey", "ts", "json").withColumn("is_fuzzy", lit(false))
      .unionByName(fallback.select("urlkey", "ts", "json")
        .withColumn("is_fuzzy", lit(true)))
      .orderBy("urlkey", "ts", "json")
  }

  /** RULES-DRIVEN fuzzy matching (pywb's rules.yaml fuzzymatcher, the
    * general form [[fuzzyMatch]]'s drop-the-query rule is one instance
    * of): the rules table maps SURT prefixes to canonicalization
    * regexes, the LONGEST prefix matching the query key picks the rule
    * (the aclj most-specific-wins contract), the rule's regexp-replace
    * canonicalizes the key, and the re-probe matches every capture
    * whose OWN canonicalized key (same longest-prefix-rule chain,
    * compiled into one map-side when-coalesce column — the broadcast
    * rules table as plan literals) equals the query's. An exact hit
    * suppresses the fuzzy leg entirely — same in-plan broadcast count
    * as [[fuzzyMatch]], so the two-stage lookup stays ONE job — and the
    * fuzzy scan still prunes cluster.idx to the canonical base prefix.
    * Rule shapes this covers: cache-buster strip (`&cb=\d+` → ``),
    * param rewrite (`\?a=(\d+)&.*` → `?id=$1`), and the soft-404
    * drop-everything default (`\?.*` → ``). */
  def fuzzyMatchRules(urlkey: String, rules: Seq[CdxServer.FuzzyRule]): DataFrame = {
    require(rules.nonEmpty, "fuzzyMatchRules needs at least one rule")
    val rule = rules.filter(r => urlkey.startsWith(r.prefix)).sortBy(-_.prefix.length)
      .headOption
    // no matching rule: the canonical form is the key itself — the probe
    // degenerates to exact semantics and only the exact leg can answer
    val canonical = rule
      .map(r => urlkey.replaceAll(r.pattern, r.replace)).getOrElse(urlkey)
    val base = canonical.takeWhile(_ != '?')
    // Pruning soundness: the fuzzy leg must scan every key whose
    // canonical form can equal the query's. That is judged from the
    // RULE's pattern, not from this query's own rewrite: a '?'-anchored
    // pattern (regex source starting with the literal `\?` — every
    // match consumes a '?', which in a SURT key sits at or after the
    // query boundary) can only rewrite query-string text, so EVERY key
    // the rule governs keeps its path prefix under canonicalization and
    // the candidate set lives under the canonical BASE prefix: maximal
    // cluster.idx pruning. Any other pattern CAN touch path text — even
    // when it happened not to rewrite THIS query's path, same-rule
    // captures may be rewritten INTO the canonical form from a
    // different original path (the old pathRewritten test silently
    // missed those) — so the probe DEGRADES to the matched rule's own
    // prefix: still correct (every key the rule governs is scanned; a
    // differently-ruled key's canonical form keeps its own host
    // prefix), just less pruned. Exact hits serve either way.
    val queryOnly = rule.forall(CdxServer.queryOnlyPattern)
    val probePrefix = if (queryOnly) base else rule.map(_.prefix).getOrElse(base)
    val exact = exactRows(urlkey, single = true)
    val hit = exact.agg(count(lit(1)).as("n_exact"))
    val candidates = prefixRows(probePrefix, single = true)
    val fallback = (
      if (queryOnly) candidates.filter(
        col("urlkey") === base || col("urlkey").startsWith(base + "?"))
      else candidates)
      .filter(CdxServer.fuzzyCanonicalCol(col("urlkey"), rules) === canonical)
      .crossJoin(broadcast(hit)).filter(col("n_exact") === 0).drop("n_exact")
    exact.select("urlkey", "ts", "json").withColumn("is_fuzzy", lit(false))
      .unionByName(fallback.select("urlkey", "ts", "json")
        .withColumn("is_fuzzy", lit(true)))
      .orderBy("urlkey", "ts", "json")
  }

  /** pagination contract: numPages for a prefix at `blocksPerPage`
    * (pywb showNumPages), computed from cluster.idx alone — no data I/O */
  def numPages(surtPrefix: String, blocksPerPage: Int): Long = {
    require(blocksPerPage > 0, s"blocksPerPage must be positive, got $blocksPerPage")
    val nBlocks = idxFor(surtPrefix).size
    math.ceil(nBlocks.toDouble / blocksPerPage).toLong
  }

  /** pywb resumeKey pagination: the next `n` captures strictly after the
    * (urlkey, ts) cursor in index order. The cursor beats offset paging
    * at scale — page k costs the same as page 1 because the predicate is
    * shaped as `urlkey >= cursor AND (...)`: the first conjunct is a
    * pushable bound that prunes cluster.idx blocks below the cursor,
    * where an OFFSET would decompress and discard k·n rows every call.
    * Resume with the last row's (urlkey, ts, json); fewer than n rows
    * back means the listing is done. Passing the full 3-field cursor
    * (`afterJson = Some(lastRow.json)`) makes the walk LOSSLESS — real
    * CDX data has multiple captures of a URL within one 14-digit second,
    * and a page boundary inside such a run would otherwise skip the rest
    * of it (pywb's two-field resumeKey shares that loss; the json
    * tie-break is already in the sort order, so carrying it costs
    * nothing). `None` keeps the strictly-after-(urlkey, ts) semantics.
    * An Option, not a nullable String: a 2-field CDX line scans with
    * json = NULL, and conflating that legitimate cursor value with the
    * no-cursor sentinel would silently degrade the walk to lossy
    * 2-field semantics mid-listing. The json comparison is NULL-aware in
    * exactly the sort's order (ascending NULLS FIRST): after a NULL-json
    * cursor comes every non-null json — the old `coalesce(json, '')`
    * encoding collapsed NULL and '' into one value the sort keeps
    * distinct, so a page boundary between them skipped the '' row. */
  def pageByKey(
      surtPrefix: String, afterUrlkey: String, afterTs: String, n: Int,
      afterJson: Option[String] = None): DataFrame = {
    // within the cursor's urlkey: strictly-after on (ts[, json])
    val afterKey = afterJson match {
      case None => col("ts") > afterTs
      case Some(j) =>
        val jsonAfter = if (j == null) col("json").isNotNull else col("json") > lit(j)
        col("ts") > afterTs || (col("ts") === afterTs && jsonAfter)
    }
    prefixRows(surtPrefix, single = true)
      .filter(col("urlkey") >= afterUrlkey && // pushable bound: idx pruning
        (col("urlkey") > afterUrlkey || (col("urlkey") === afterUrlkey && afterKey)))
      .select("urlkey", "ts", "json") // the pywb response fields
      .orderBy("urlkey", "ts", "json")
      .limit(n)
  }

  /** pywb `filter=` param over any result: `field:regex` keeps matching
    * rows, `!field:regex` drops them, and a colon-less spec matches the
    * whole reconstructed CDX line (pywb's field-less form). Core columns
    * (urlkey, ts) filter directly; every other CDX field is pulled from
    * the CDXJ json payload. An absent field never matches — so under `!`
    * rows lacking the field are KEPT, matching pywb — and both forms are
    * plain Column predicates, so Catalyst pushes them down. */
  def withFilter(df: DataFrame, spec: String): DataFrame = {
    val negate = spec.startsWith("!")
    val body = if (negate) spec.substring(1) else spec
    val (target, pattern) = body.split(":", 2) match {
      case Array(field, p) =>
        // pywb spells ts 'timestamp' — the same alias withFields maps;
        // without it filter=timestamp:... probes the json (always null)
        // and silently matches nothing
        val source = if (field == "timestamp") "ts" else field
        val c =
          if (df.columns.contains(source)) col(source)
          else get_json_object(col("json"), s"$$.$field")
        (c, p)
      case _ => (concat_ws(" ", col("urlkey"), col("ts"), col("json")), body)
    }
    // pywb's filter= uses re.match — anchored at the START of the field
    // (filter=status:00 matches nothing, not "200"); null field -> no
    // match (not null), so negation keeps the row
    val matched = coalesce(target.rlike("^(?:" + pattern + ")"), lit(false))
    df.filter(if (negate) !matched else matched)
  }

  /** pywb `fl=` (field-list) param: project the response to a
    * comma-separated list of CDX field names, in the requested order.
    * `urlkey`/`ts` (pywb spells the latter `timestamp`) come straight off
    * the scan columns; every other field is pulled from the CDXJ json
    * payload and is null when absent (pywb renders `-`). Asking for only
    * scan columns composes with the source's column pruning — an
    * `fl=urlkey` query never parses ts/json at all. */
  def withFields(df: DataFrame, fl: String): DataFrame = {
    val fields = fl.split(",").map(_.trim).filter(_.nonEmpty)
    require(fields.nonEmpty, s"fl= needs at least one field name, got '$fl'")
    val projected = fields.map { f =>
      val source = if (f == "timestamp") "ts" else f
      if (df.columns.contains(source)) col(source).as(f)
      else get_json_object(col("json"), s"$$.$f").as(f)
    }
    df.select(projected.toIndexedSeq: _*)
  }

  /** pywb `resolveRevisits=true`: attach the ORIGINAL capture's payload
    * location to each revisit row (a revisit record has no body; replay
    * needs the bytes of the capture it duplicates). A revisit — marked
    * `mime == "warc/revisit"`, the pywb convention the pipeline writes —
    * resolves to the LATEST capture with the same digest at or before its
    * own timestamp; unresolved revisits keep null originals (pywb `-`).
    * The window partitions by the revisit's identity, so state is
    * per-digest-group — skew-free (digests are content hashes). */
  def resolveRevisits(df: DataFrame): DataFrame = {
    val d = df
      .withColumn("digest", get_json_object(col("json"), "$.digest"))
      .withColumn("mime", get_json_object(col("json"), "$.mime"))
    val revisits = d.filter(col("mime") === "warc/revisit")
      .select("urlkey", "ts", "json", "digest")
    // null-safe: a capture whose json lacks a mime key has mime = NULL;
    // `=!=` would evaluate NULL and silently drop it from the originals
    // side, leaving its revisits unresolved
    val originals = d.filter(!(col("mime") <=> "warc/revisit") &&
        col("digest").isNotNull && col("digest") =!= "-")
      .select(col("digest").as("digest_o"), col("ts").as("orig_ts"),
        get_json_object(col("json"), "$.filename").as("orig_filename"),
        get_json_object(col("json"), "$.offset").as("orig_offset"),
        get_json_object(col("json"), "$.length").as("orig_length"))
    // tie-break beyond orig_ts: two originals can share a digest AND a
    // 14-digit second (dual crawlers, merged clusters) — without the
    // (filename, offset) order the attached location flips between runs
    val w = Window.partitionBy("urlkey", "ts", "json")
      .orderBy(col("orig_ts").desc, col("orig_filename"), col("orig_offset"))
    revisits
      .join(originals,
        col("digest") === col("digest_o") && col("orig_ts") <= col("ts"), "left")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "digest_o")
  }

  /** page `n` (0-based) of a prefix query: the n-th run of `blocksPerPage`
    * idx blocks, read and filtered to the prefix — completing the pywb
    * showNumPages/page contract. Pages are disjoint and their union is the
    * full [[prefix]] result; only the selected blocks' bytes are read. */
  def page(surtPrefix: String, blocksPerPage: Int, n: Int): DataFrame = {
    val blocks = idxFor(surtPrefix)
      .slice(n * blocksPerPage, (n + 1) * blocksPerPage)
    ZipNum.readBlockLines(spark, clusterDir, blocks, Some(surtPrefix))
      .select(Cdx.lineCols(col("line")): _*)
  }
}

object CdxServer {

  /** the pywb response fields every lookup returns */
  private val Response = Seq("urlkey", "ts", "json")

  /** a sort-shaped lookup's parameter columns, one value per call */
  private val ParamColumns = Seq("p_key", "p_target", "p_from", "p_to")

  /** the values of [[ParamColumns]], in order; null where a shape has
    * none. `key` (the urlkey, SURT prefix or reversed host) also bounds
    * the lines a lookup reads. */
  private final case class Params(
      key: String, target: String = null, from: String = null, to: String = null) {
    def values: Seq[String] = Seq(key, target, from, to)
  }

  /** the leaf every lookup shape is described over */
  private val leafSchema =
    StructType((Response ++ ParamColumns).map(StructField(_, StringType)))

  /** one pywb rules.yaml-style fuzzy rule: under SURT keys starting with
    * `prefix`, canonicalize by replacing every `pattern` match with
    * `replace` (Java regex; `$1`-style group references) */
  final case class FuzzyRule(prefix: String, pattern: String, replace: String)

  /** Parse a pywb-style `rules.yaml` fuzzy-rule file into the engine's
    * [[FuzzyRule]] table. Recognized shape (the pywb consumer contract —
    * SURVEY §2.9): a top-level `rules:` list whose items carry
    * `url_prefix` (scalar, inline `[a, b]` list, or block list — a list
    * expands to one rule per prefix) and `fuzzy_lookup` (a bare regex
    * scalar, or a map with `match` and optional `replace`). A rule with
    * no `replace` canonicalizes by STRIPPING the match (`replace` "")
    * — the drop-the-querystring default `fuzzy_lookup: '\?.*'`
    * instantiates pywb's soft-404 rule; other keys under `fuzzy_lookup`
    * (`filter`, `find_all`, ...) are ignored. The parser is a
    * deliberate YAML SUBSET (indentation maps/lists, quoted or bare
    * scalars, `#` comments) — rule files are O(10²) lines of exactly
    * this shape, and a full YAML engine is not a dependency this build
    * takes. Rules appear in file order; [[fuzzyMatchRules]] resolves
    * overlaps longest-prefix-first regardless of order. */
  def parseRulesYaml(text: String): Seq[FuzzyRule] = {
    // strip comments/blank lines, keep (indent, content). A comment
    // starts at a whitespace-preceded '#' OUTSIDE quotes — a '#' inside
    // a quoted scalar (e.g. a regex character class `[0-9 #]`) is
    // content, and a naive `\s#.*$` cut would truncate the pattern into
    // one that fails only at query time
    def stripComment(l: String): String = {
      var i = 0
      var quote: Char = 0
      while (i < l.length) {
        val c = l(i)
        if (quote != 0) { if (c == quote) quote = 0 }
        else c match {
          case '\'' | '"' => quote = c
          case '#' if i == 0 || l(i - 1).isWhitespace => return l.substring(0, i)
          case _ =>
        }
        i += 1
      }
      l
    }
    val lines = text.split("\n", -1).toIndexedSeq
      .map(stripComment)
      .filter(_.trim.nonEmpty)
      .map(l => (l.indexWhere(!_.isWhitespace), l.trim))
    def unquote(s: String): String = {
      val t = s.trim
      if (t.length >= 2 && ((t.head == '\'' && t.last == '\'') ||
        (t.head == '"' && t.last == '"'))) t.substring(1, t.length - 1)
      else t
    }
    // locate the rules: list
    val start = lines.indexWhere(_._2 == "rules:")
    require(start >= 0, "rules.yaml: no top-level 'rules:' key")
    val body = lines.drop(start + 1)
      .takeWhile(_._1 > lines(start)._1) // the rules block = deeper indent
    // split into items at each '- ' line of the item indent
    val itemIndent = body.headOption.map(_._1).getOrElse(0)
    val items = scala.collection.mutable.ArrayBuffer.empty[Vector[(Int, String)]]
    body.foreach { case (ind, s) =>
      if (ind == itemIndent && s.startsWith("- "))
        items += Vector((ind + 2, s.substring(2).trim))
      else if (items.nonEmpty) items(items.length - 1) :+= ((ind, s))
      // content before the first '- ' is malformed; ignore
    }
    items.toSeq.flatMap { item =>
      var prefixes = Vector.empty[String]
      var pattern: String = null
      var replace = ""
      var i = 0
      while (i < item.length) {
        val (ind, s) = item(i)
        if (s.startsWith("url_prefix:")) {
          val v = s.stripPrefix("url_prefix:").trim
          if (v.startsWith("[")) {
            // inline list: SURT prefixes CONTAIN commas, so quoted items
            // are extracted as units ('' = the catch-all) and a comma
            // split only applies to a fully-bare list
            val inner = v.stripPrefix("[").stripSuffix("]")
            val quoted = "'([^']*)'|\"([^\"]*)\"".r.findAllMatchIn(inner)
              .map(m => Option(m.group(1)).getOrElse(m.group(2))).toVector
            prefixes =
              if (quoted.nonEmpty) quoted
              else inner.split(",").toVector.map(_.trim).filter(_.nonEmpty)
          } else if (v.nonEmpty) prefixes = Vector(unquote(v))
          else { // block list
            var j = i + 1
            while (j < item.length && item(j)._1 > ind && item(j)._2.startsWith("- ")) {
              prefixes :+= unquote(item(j)._2.substring(2))
              j += 1
            }
            i = j - 1
          }
        } else if (s.startsWith("fuzzy_lookup:")) {
          val v = s.stripPrefix("fuzzy_lookup:").trim
          if (v.nonEmpty) pattern = unquote(v) // bare regex scalar
          else { // block map: match / replace (others ignored)
            var j = i + 1
            while (j < item.length && item(j)._1 > ind) {
              val kv = item(j)._2
              if (kv.startsWith("match:")) pattern = unquote(kv.stripPrefix("match:"))
              else if (kv.startsWith("replace:")) replace = unquote(kv.stripPrefix("replace:"))
              j += 1
            }
            i = j - 1
          }
        }
        i += 1
      }
      require(pattern != null,
        s"rules.yaml: a rule item lacks fuzzy_lookup (prefixes=$prefixes)")
      val ps = if (prefixes.isEmpty) Vector("") else prefixes
      ps.map(p => FuzzyRule(p, pattern, replace))
    }
  }

  /** [[parseRulesYaml]] over a file path (any Hadoop-visible FS) — the
    * rules file is a driver artifact (O(KB)), read once, shipped to the
    * executors as plan literals by [[fuzzyCanonicalCol]]. */
  def loadRulesYaml(spark: SparkSession, path: String): Seq[FuzzyRule] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try parseRulesYaml(new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
    finally in.close()
  }

  /** true iff `rule`'s pattern provably rewrites ONLY query-string text:
    * its regex source is anchored at a literal '?' (`\?` or `[?]`), so
    * every match starts at a '?' position — in a SURT urlkey always at
    * or after the first '?', the query boundary — and the path prefix
    * of every governed key survives canonicalization. The anchor is
    * binding only when the pattern has NO top-level alternation: in
    * `\?.*|;sess\d+` the second branch matches path text anywhere, so
    * such a pattern is treated as path-capable (degraded pruning)
    * despite its leading `\?`. The decidable conservative test
    * [[CdxServer.fuzzyMatchRules]] uses to pick base-prefix vs
    * rule-prefix probe pruning; anything unproven is treated as
    * path-capable — degraded pruning is always correct, a missed
    * capture never is. */
  def queryOnlyPattern(rule: FuzzyRule): Boolean = {
    val p = rule.pattern
    def topLevelAlternation: Boolean = {
      var depth = 0
      var inClass = false
      var i = 0
      while (i < p.length) {
        p(i) match {
          case '\\' => i += 1 // escaped char: not structural
          case '[' if !inClass => inClass = true
          case ']' if inClass => inClass = false
          case '(' if !inClass => depth += 1
          case ')' if !inClass => depth -= 1
          case '|' if !inClass && depth == 0 => return true
          case _ =>
        }
        i += 1
      }
      false
    }
    (p.startsWith("\\?") || p.startsWith("[?]")) && !topLevelAlternation
  }

  /** The canonicalizing column: each key is rewritten by its
    * LONGEST-matching-prefix rule; keys no rule covers pass through
    * unchanged. Compiles to a length-descending when-coalesce chain of
    * `regexp_replace`s — the rules table rides the plan as literals
    * (pywb rule sets are O(10²)), all map-side codegen, zero joins, so
    * index-side canonicalization costs one narrow pass at 100 TB. Two
    * equal-length distinct prefixes cannot both match one key, so the
    * order is deterministic (the aclApply argument). */
  def fuzzyCanonicalCol(
      key: org.apache.spark.sql.Column,
      rules: Seq[FuzzyRule]): org.apache.spark.sql.Column = {
    require(rules.nonEmpty, "fuzzyCanonicalCol needs at least one rule")
    val sorted = rules.sortBy(-_.prefix.length)
    coalesce(
      sorted.map(r =>
        when(key.startsWith(r.prefix), regexp_replace(key, r.pattern, r.replace))) :+
        key: _*)
  }

  /** pywb access control (`.aclj` rule files): each rule is a SURT prefix
    * plus an access label (`allow` / `block` / `exclude`), and a capture's
    * effective access is decided by the LONGEST rule prefix that
    * string-prefixes its urlkey — `org,example,urgent)/order/1` overrides
    * a host-wide `org,example,urgent)` block for that subtree, exactly the
    * most-specific-wins contract pywb's aclj lookup implements. Returns
    * `captures` with `rule_prefix` (the winning rule, null when none
    * matched) and `access` (`default` when none matched) appended.
    *
    * Plan shape: the rule table compiles into a length-descending
    * `coalesce(when(startswith...)))` chain — a pure map-side projection,
    * zero shuffles, zero joins, fully inside whole-stage codegen, so the
    * policy sweep rides every scan for free at 100 TB. Two distinct
    * equal-length prefixes cannot both match one key, so length-descending
    * order alone is deterministic. Real aclj files are O(10²–10⁴) rules —
    * fine as a plan literal (janino splits oversized methods); a
    * truly huge rule set would instead ship sorted prefixes to a
    * binary-search expression, the cluster.idx discipline.
    */
  def aclApply(
      captures: DataFrame,
      key: org.apache.spark.sql.Column,
      rules: Seq[(String, String)],
      default: String): DataFrame = {
    require(rules.nonEmpty, "aclApply needs at least one rule")
    val sorted = rules.sortBy(-_._1.length)
    val prefixCol = coalesce(
      sorted.map { case (p, _) => when(key.startsWith(p), lit(p)) }: _*)
    val accessCol = coalesce(
      sorted.map { case (p, a) => when(key.startsWith(p), lit(a)) } :+
        lit(default): _*)
    captures
      .withColumn("rule_prefix", prefixCol)
      .withColumn("access", accessCol)
  }
}
