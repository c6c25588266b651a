package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps the FINAL physical plans of flagship queries to PLANS.md — the
  * "explain, then iterate until it's the plan you'd want" audit trail.
  * Each query is EXECUTED first so AQE's final plan (with `*(n)`
  * whole-stage-codegen stars, chosen join strategies, pruned scans) is
  * what gets printed, not the pre-adaptive placeholder.
  *
  * `sbt "runMain graft.Plans [sfDir] [outFile]"`
  *
  * `sbt "runMain graft.Plans <sfDir> <outDir> key1,key2,..."` instead
  * writes `explain("formatted")` of each named [[SparkEntry.queries]]
  * key, unexecuted, to `<outDir>/<key>.txt`: the before/after plan
  * evidence an optimization round commits next to its bench numbers
  * (`plans/r15/`). Formatted mode shows Exchange placement, join
  * strategy and build side, PushedFilters and ReadSchema.
  *
  * Both outputs go through [[normalize]], so two runs over the same plans
  * write the same text.
  */
object Plans {

  /** queries whose plan shape IS the scale story (one per family) */
  val flagship: Seq[(String, String)] = Seq(
    "scan_parquet" -> "pushdown + column pruning reach the parquet scan",
    "sort_global" -> "exactly one range exchange for the total order",
    "agg_count_by_key" -> "partial (map-side) + final hash aggregation",
    "join_broadcast_dim" -> "small dims broadcast, no shuffle of the fact side",
    "join_bucketed_colocated" -> "bucketed tables join with zero exchanges",
    "join_skew_salted" -> "hot-key join shuffles on (key, salt), never broadcast",
    "zipnum_v2_pushdown" -> "urlkey filter pushed into cluster.idx block pruning",
    "topk_closest" -> "TakeOrderedAndProject, not sort-then-limit",
    "split_points" -> "two-phase exact ranking: pid-partitioned local row_number + broadcast count offsets — no global window anywhere",
    "dedup_fuzzy_minhash" -> "LSH band equi-join, no cross join anywhere",
    "dedup_simhash" -> "fused tokenize+sketch kernel: no Generate, no aggregate, all codegen",
    "sim_ann_pq" -> "codebook + ADC table ride as plan literals: scan -> pq_encode projection -> top-k, no join/window/explode",
    "sim_ann_pq_rerank" -> "PQ codes narrow to 50 candidates; exact re-rank touches 50 vectors",
    "sim_ann_ivf_trained" -> "k-means-trained cells: narrow pq_encode assignment + probe filter, query vector as a literal",
    "sim_ann_ivfpq" -> "composed production index: residual codes off a checkpoint, per-cell ADC literals behind a CASE, top-k",
    "sim_ann_ivfpq_serve" -> "query batch over the STORED cid-partitioned index: dynamicpruningexpression on the scan (reused broadcast), shuffle-free per-row cell ranking, pq_adc scoring",
    "dedup_incremental_minhash" -> "new-batch probe of the (band,sig)-bucketed signature index: index side sort-merge joins with zero exchange",
    "zipnum_merge_incremental" -> "LSM-style compaction: sorted shard streams k-way merge, no re-range-exchange of the full union",
    "corpus_budget_fill" -> "budget fill windows over quality LEVELS (bounded domain), never one document window per language",
    "sim_ann_ivfpq_cold" -> "cold serve off the stored model + index: partition-pruned probe, zero training jobs in the plan",
    "pipeline_pack_sequences" -> "global prefix sum without a global window: per-bucket windows + broadcast-joined driver-prefixed offsets",
    "dedup_chunk_exact" -> "chunk first-occurrence window partitioned by content; reassembly is one hash agg per doc",
    "emb_quantize_int8" -> "per-dim stats as ONE global agg (2×dim min/max columns, no dim-explode of the corpus); one-row stats broadcast back, quantize is a narrow map",
    "agg_pivot" -> "explicit pivot values: two-level aggregate where the second level runs on |groups| reduced rows, one corpus scan",
    "win_range_frame" -> "time-RANGE frame inside a user-partitioned WindowExec — no global window, integer epoch sort key",
    "dedup_bloom_prefilter" -> "bloom fast path: might_contain filter keeps definite-new rows out of the anti-join; only candidates shuffle",
    "search_keyword_and" -> "term filter directly above the generate — only queried-term pairs reach the aggregate shuffle",
    "emb_knn_graph" -> "LSH (table,bucket) equi-join candidates with over-cap buckets CAPPED not dropped (dense regions keep partial neighborhoods), id-dedup before vectors re-attach, src-partitioned top-k window",
    "graph_triangle_count" -> "degree-ordered orientation computed once (localCheckpoint), wedge join on oriented edges — hub skew capped",
    "join_set_similarity" -> "AllPairs prefix filter: rare-token prefix equi-join candidates + exact-Jaccard verify, no cartesian anywhere",
    "dedup_winnow_pairs" -> "fused winnow_fps_text kernel: one codegen'd O(tokens) pass per doc (monotonic-deque window minima), fp-bucket pair join capped at 500",
    "zipnum_ts_bounded" -> "exact-url + ts bounds folded into ONE 'urlkey ts' idx key range: a hot URL's out-of-window blocks never read",
    "dedup_incremental_winnow" -> "fp-bucketed stored fingerprint index probed exchange-free: only the new batch shuffles to the layout",
    "win_funnel_steps" -> "range-bounded left joins per funnel step, all shuffles on user_id — no fan-out-then-filter",
    "layout_zorder" -> "z-clustered write is ONE range exchange (codegen bit-interleave key); the box query's scan carries both pushed filters against per-file min/max boxes",
    "join_interval_bucket" -> "theta join rewritten to a bucket equi-join: interval explode bounded by len/width+1, shuffled hash join, exact bounds re-checked above it",
    "sink_merge_upsert" -> "COW merge reads ONLY the batch's partitions (static isin pruning), anti-joins batch keys broadcast, rewrites just those partitions via dynamic overwrite",
    "cdc_compact_changelog" -> "last-writer-wins as a mergeable max_by agg: map-side partial compaction, one hash shuffle, no per-key history window",
    "join_dpp_partitioned" -> "weekend filter on the calendar dim becomes a dynamicpruningexpression on the fact scan: 8 of 30 day-dirs read, dim broadcast reused as the pruning subquery",
    "dedup_image_phash" -> "corpus collapses to ONE hash-groupBy; banded hamming candidates + ball-min survivor rule run on |distinct hashes|, never the corpus",
    "dedup_semantic" -> "SemDeDup: trained-cell assignment is a narrow pq_encode pass; cosine prune joins within size-capped cells only",
    "search_bm25_rank" -> "df + corpus stats broadcast (1-row cross as BNLJ); per-term scores conditional-summed in fixed order; top-20 is TakeOrderedAndProject",
    "agg_drift_report" -> "corpus reduces to ≤13 (bucket,cp,cq) rows in one conditional-sum agg; spine join + running sums run on that bounded artifact",
    "win_retention_cohorts" -> "first-seen agg and events⋈cohort share the user_id exchange; final agg is |days²|-bounded",
    "sample_weighted" -> "1-row max agg broadcast back; keep decision is a map-side pure-integer filter — zero data-sized shuffle",
    "graph_label_propagation" -> "per-round: one nbrs⋈labels shuffle + two hash aggs off a checkpointed neighbor list — no driver-sized state",
    "sim_ann_binary_quant" -> "sign-bit pack is one narrow codegen projection; query words broadcast; top-10 is TakeOrderedAndProject on the popcount",
    "ts_anomaly_mad" -> "two grouped exact percentiles broadcast back as |event_types|-row artifacts; the flag is a map-side filter",
    "graph_connected_components" -> "pointer-jumping rounds off a checkpointed symmetric edge list — diameter 2^k coverage, observe()-counted convergence, no driver-sized state",
    "pipeline_warc_corpus" -> "the north-star composition as ONE lazy plan: WARC scan -> codegen HTML extract + gates -> content-hash dedup window -> bucket-prefix-sum packing; only declared exchanges between stages",
    "stream_frontier" -> "transformWithState dedup-and-emit: one exchange on urlkey into TransformWithStateExec, state O(distinct keys), no second shuffle",
    "stream_recent_k" -> "ListState latest-k buffer: one exchange on urlkey into TransformWithStateExec, admission changelog out, state O(keys)*k — no history re-scan",
    "crawl_diff" -> "crawl-to-crawl diff as ONE partial+final hash agg (conditional max over a sortable ts||len key); classification is a map-side projection — no self-join, no window",
    "cdx_acl_policy" -> "longest-prefix ACL rules compile to a length-descending coalesce(when(startswith)) chain — pure map-side codegen projection, zero shuffles/joins; only exchange is the output sort",
    "robots_parse" -> "robots.txt grammar over an O(hosts) table: per-host line windows (files are ~100s of lines), rule↔agent fan-out joins within the same host partitioning — corpus-independent cost",
    "robots_check" -> "captures⋈rules on host equality (prefix match rides as residual); winner window keys (host,id) so it REUSES the join's HashPartitioning(host) — one corpus shuffle total",
    "cdx_revisit_generate" -> "original-picking is a MERGEABLE min_by agg (map-side partials collapse a mega-digest before the shuffle) + digest equi-join AQE can skew-split — never a digest window sorting a hot digest's whole history in one task",
    "url_registered_domain" -> "runs on the DISTINCT host table (O(hosts) << corpus): bounded suffix explode (≤|labels|), rule table broadcast on both match forms as two equi legs (never an OR nested-loop), winner window over host",
    "corpus_split_leakage_safe" -> "cluster resolve's own pointer-jumping shuffles only; the split assignment is a map-side md5 projection on the cluster id — leakage safety costs zero extra exchanges",
    "sink_warc_write" -> "write: ONE shuffle to co-locate shards, each task streams its sorted group O(1)-memory through gzip members with attempt-isolated publish; read-back is the WARC scan's per-file parallelism",
    "scan_sitemap" -> "index child-list is a bounded explode broadcast-joined to the sitemap corpus on name; per-sitemap URL extraction is one map-side explode+projection (files spec-capped at 50k URLs) — nothing global",
    "text_quality_infer" -> "md5 bucket hashing is map-side codegen; the logit is ONE per-doc hash agg of an exact integer sum — full-corpus scoring costs one shuffle",
    "cdx_policy_gate" -> "ACL chain is a map-side codegen projection riding the scan; its verdict is carried THROUGH robots_check's join+window as keep columns — the composed gate still costs exactly one corpus shuffle, no verdict-join on id",
    "text_quality_train" -> "feature table co-partitioned+sorted by doc ONCE; each GD iteration is a single-stage mapPartitions+reduce emitting one D=128 partial gradient per partition — no per-iteration shuffle (train on a sample at 100 TB, score map-side)",
    "stream_host_status" -> "MapState per-host class counts: one exchange on host into TransformWithStateExec; per-class point reads/writes, state O(hosts*4)",
    "stream_session_flush" -> "event-time-timer sessionizer batch-run: one exchange on user_id into TransformWithStateExec; state O(active keys)*3 longs, open sessions flushed by the end-of-batch timer sweep",
    "cdx_timemap" -> "TimeMap link lines: hottest-key anchor rides as a broadcast scalar; window over ONE urlkey's rows, idx-pruned scan below it",
    "cdx_host_match" -> "matchType=host: the ')' -terminated prefix bound excludes planted subdomain keys at the cluster.idx level — blocks holding only comma-keys are never read",
    "cdx_fuzzy_match" -> "fallback scan prunes on the query-stripped prefix through cluster.idx; the exact-hit miss test is an in-plan broadcast 1-row count, no driver round trip",
    "ts_resample_linear" -> "hourly grid cross join is |users|x72 broadcast rows; both interpolation windows partition by user_id — no global window, no data-sized grid",
    "graph_bfs_hops" -> "per-hop: frontier⋈edges shuffle + min-agg off a checkpointed edge list; visited set stays distributed, rounds bounded by depth",
    "pipeline_data_audit" -> "all audit counters ride ONE conditional-sum pass (observe-style aggregates); no per-rule scan",
    "search_phrase" -> "positional-index self-join on (term,doc) pairs with adjacent-position equi-condition — no document re-scan, no cartesian",
    "sample_temperature" -> "one |langs|-row corpus agg broadcast back as the normalizer; weights are a map-side projection",
    "text_lm_score_bigram" -> "bigram + context tables broadcast; per-doc score is a narrow indexed-transform fold — no explode past the shuffle-free aggregate build",
    "agg_mode" -> "mode as max_by(struct(cnt,-key)) over a two-phase hash agg — no per-group sort, no window",
    "scan_binary_files" -> "binaryFile source with pathGlobFilter pushed to the listing; metadata-only projection never reads payload bytes",
    "scan_avro" -> "gavro DSv2 scan: byte-range splits on sync markers (4KB forces multi-split here), ReadSchema pruned to the projected columns",
    "text_dedup_substring" -> "duplicated grams from one partial+final hash agg; hits re-attach by equi join; span merge is a per-doc islands window — no global window, no self-join",
    "ts_interval_coverage" -> "interval union entirely inside user-partitioned windows + two hash aggs on user_id — one exchange reused end-to-end, no self-join",
    "join_asof_tolerance" -> "as-of via union-window: both sides union once, ONE partitioned window carries the latest right row forward — zero joins, no range-join blow-up",
    "text_gopher_rules" -> "the whole Gopher rule panel is ONE map-side projection (HOF filters, no Generate) fused into the scan's codegen stage — the only exchange is the output sort",
    "crawl_politeness" -> "sched=max(arrival,prev+delay) recursion in closed window form: one shuffle on host; both Window nodes (rn, then the running max consuming it) reuse that exchange and ONE sort — no iteration, no driver state",
    "url_strip_tracking" -> "planted-variant union is exchange-free; canon (HOF param filter+sort) computed map-side; ONE hash agg on canon — the dedup_exact shuffle class",
    "text_c4_filters" -> "page build AND the whole C4 filter are chained HOF projections (no Generate, no shuffle); md5(cleaned) rides the same codegen stage",
    "html_main_content" -> "page build, chrome strip, block split, and the per-block density classifier are ONE map-side HOF projection — no Generate/explode, no shuffle before the output sort; at 100 TB this fuses into the WARC scan's codegen stage",
    "filter_url_blocklist" -> "PSL precedence runs on DISTINCT hosts only; the corpus side is a BROADCAST left join of the filtered blocked-host set plus a map-side HOF term match — captures never shuffle before the output sort",
    "html_links" -> "anchor extraction + per-link href resolution are ONE map-side HOF projection over the page build (regexp_extract_all + transform/filter, no Generate until the single posexplode); the output sort is the only exchange",
    "sink_warc_zst_write" -> "same plan as sink_warc_write: one repartition on the normalized shard name, per-task streaming write (O(1 record) memory), pre-flight clash scan pruned to the shard column; zstd frames replace gzip members",
    "crawl_change_rate" -> "the lag window and the per-urlkey rollup share ONE urlkey exchange (AQE exchange reuse); change classification is a map-side integer projection — no self-join, no second shuffle",
    "scan_warc_zst" -> "one task per .zst file, zstd frames walked inside the partition with a one-frame buffer window — same per-file parallelism and corrupt-row contract as the gzip scan; no shuffle before the output sort",
    "url_redirect_chain" -> "pointer-jumping doubling: 3 self-joins of the jump map (log coverage, not per-hop rounds); terminal URLs re-attach by one left equi join",
    "mm_jpeg_decode" -> "lossy-codec decode is one narrow mapPartitions pass (JPEG writer/reader init amortized per partition); dims + tolerance verdict computed in-row — no shuffle before the output sort",
    "mm_exif_meta" -> "EXIF parse is one narrow mapPartitions pass (base JPEG encoded once per partition, per-row APP1 splice+parse); no joins/aggregates before the output sort",
    "crawl_recrawl_schedule" -> "composed scheduler: lag window + per-urlkey rollup share ONE urlkey exchange; robots delays broadcast; the host schedule window is the single corpus host shuffle — classification and intervals are map-side projections",
    "sink_wet" -> "WET generation: ONE shuffle to co-locate sidecar shards (same plan class as sink_warc_write); envelope-free text payloads stream O(1)-memory per task; read-back is the WET scan's per-file parallelism + its dedup window",
    "sink_wat" -> "WAT generation: watEnvelope is a map-side to_json projection (no Generate, no second parse); one shard shuffle to write; read-back parses each envelope ONCE (JsonToStructs == 1, the watLinks pin) then explodes links",
    "stream_politeness" -> "one exchange on host into TransformWithStateExec; state is ONE long per host (last granted slot) — the scheduler runs as a changelog, no history rescans",
    "url_redirect_loops" -> "loop detection is STRUCTURAL: doubling joins cover acyclic lengths, then one semi-join against edge sources flags dsts that still have an out-edge — no convergence test, no iteration-until-fixpoint",
    "pipeline_quality_funnel" -> "page build + BOTH rule panels are map-side pass-through stages in one plan; the only data-sized exchange is the (lang, content-key) dedup window; the rollup is |langs| rows",
    "ts_cusum_alarm" -> "the CUSUM max-recursion in closed window form: one day-count hash agg (the only data-sized shuffle), then two frames sharing one (host | day) sort — no per-day iteration",
    "warc_fetch_record" -> "replay by RANGE read: requests repartition per file + sort by offset (one open, ascending positioned reads); the corpus itself is never scanned",
    "crawl_politeness_robots" -> "robots-granted delays are an O(hosts) broadcast into the closed-form schedule — policy-driven politeness still costs ONE corpus shuffle on host",
    "sink_warc_revisit_write" -> "dedup write: originals picked by a mergeable min_by agg + skew-splittable digest join (no hot-digest window); resolve-on-read is ONE digest equi-join — payload bytes shuffle once per distinct digest, never per capture",
    "scan_parquet_bloom" -> "point lookup: EqualTo(urlkey) pushed to the scan, split-block bloom in the footer skips row groups without decoding pages — read cost O(row groups probed), not O(rows)",
    "sink_compact_small_files" -> "compaction with ZERO exchange: FilePartition bin-packing (maxPartitionBytes = target size) groups small files per read task; write emits one right-sized file per task",
    "scan_warc_split" -> "byte-range splits INSIDE a .warc.gz: member-magic resync + strict one-member CRC-validated decode per candidate, ownership by member start — a 500 GB file becomes size/splitBytes tasks instead of one",
    "zipnum_takedown_merge" -> "takedown tombstones apply INSIDE the exchange-free streaming k-way merge — excluded lines are read once and dropped in-stream, never re-shuffled; the purge costs the compaction the index already runs",
    "corpus_interleave_sources" -> "weighted interleave with NO per-source window: hash-draw div weight is a map-side projection, the range sort is the only exchange — a mega-source cannot hot-spot a rank window",
    "sink_ccindex" -> "(crawl, subset) predicates land as PARTITION filters on the columnar index scan: 16 cells on disk, 1 read — directory pruning before any row group opens",
    "wacz_fetch_record" -> "record replay through the ZIP: index scan is one tail read + the index entry per archive; each record is ONE positioned read through the STORED entry — no archive-sized scan anywhere in the plan",
    "wacz_prefix_lookup" -> "blocked big-archive index served boundedly: idx pointers select the blocks whose CLOSED key ranges can hold the prefix; only those gzip members read — O(idx + matching blocks), the cluster.idx discipline through a ZIP",
    "pipeline_wacz_publish" -> "dedup -> package -> verify-gate -> replay as ONE lazy plan: time-first originals via a mergeable min_by agg (no hot-digest window), verification is a bounded pre-read gate, the replay is pointer-sized",
    "graph_domain_collapse" -> "PSL runs on DISTINCT endpoint hosts only; the edge corpus takes two BROADCAST host->domain joins + one hash agg on the bounded (domain, domain) key — no edge-sized shuffle anywhere",
    "sim_ann_hnsw_index" -> "sharded graph ANN off the STORED adjacency: shard-partitioned scan + vector equi-join feed per-shard verbatim graph reconstruction (flatMapGroups); the merge is an ordered limit over nShards*k candidate rows",
    "cdx_fuzzy_rules" -> "rules canonicalization is a map-side regexp_replace when-coalesce chain (the broadcast rules table as plan literals); the exact-miss gate is an in-plan broadcast 1-row count; the re-probe prunes cluster.idx on the canonical base prefix",
    "scan_warc_segments" -> "continuation reassembly: unsegmented rows pass through exchange-free; segment rows shuffle ONCE on the origin id (only the segmented bytes move), groups assemble or degrade per-fragment in one flatMapGroups",
    "url_agnostic_dedup" -> "ONE partial+final digest aggregation; dangling/cross-url verdicts are map-side projections and only mismatch rows survive the filter — the report is audit-sized at any corpus scale",
    "text_lang_id_trained" -> "the trained NB model rides as per-language literal arrays; scoring is map-side aggregate-HOF folds + a struct array_max argmax — no join, no explode, no shuffle but the output sort",
    "sink_wat_headers" -> "the header map joins the SAME map-side to_json projection as the envelope (no extra pass); read-back parses each envelope once then map-explodes the Headers block",
    "mm_video_meta" -> "MP4 box walk is one narrow mapPartitions pass — no joins or aggregates before the output sort, the mm_* decoder plan class",
    "cdx_fuzzy_resolve_batch" -> "index keys canonicalize map-side inside the scan's codegen stage (the rules table as plan literals); the distinct query canon set BROADCASTS — the corpus never shuffles for resolution",
    "sim_ann_hnsw_append" -> "stored rows cogroup with the batch's shard slice (both sides exchange once on shard); reconstruction + insert run per group, the updated adjacency streams out — no rebuild of unchanged shards' vectors",
    "sink_warc_segmented" -> "the write is sink_warc_write's plan (one shard shuffle, streaming members); segmentation is per-record rendering inside the task; the read-back adds scanSegments' single origin-key exchange over segment rows only",
    "stream_hnsw_ingest" -> "per micro-batch: one shard cogroup folds the batch into the previous version's adjacency; the serve is topKStored over the newest version — index growth never re-shuffles previous batches' vectors",
    "obs_lsh_calibration" -> "ONE narrow per-doc projection (signature kernel + shingle HOF) feeds the candidate join twice; per-pair est/exact/err is map-side array math — the report costs the candidate set, never all pairs",
    "sim_ann_hnsw_takedown" -> "takedown = one shard-grouped pass over the v1 adjacency⋈vectors relation (reconstruct, drop, bounded bridge repair) streamed to the next version dir; both serves are the standard scatter-gather — unchanged shards' rows pass through verbatim",
    "stream_revisit_resolve" -> "the interval stream-stream join batch-run: one digest equi-join with the time bound as a join-side predicate (no post-filter of a wider join), both legs pruned to their record_type before the exchange",
    "mm_webp_meta" -> "RIFF walk is one narrow mapPartitions pass — no joins or aggregates before the output sort, the mm_* decoder plan class",
    "obs_ann_recall" -> "the query sample is TakeOrderedAndProject (fixed-k bottom-k by hash, never a corpus fraction); the exact leg broadcasts those k rows against one corpus pass; hits merge via left-semi on (qid, vec_id)",
    "emb_kmeans" -> "assignment is ONE narrow codegen pq_encode pass against literal centroids — no centroid join, no argmin window, no explode; the only exchange is the output sort",
    "graph_kcore" -> "per H-operator round: one neighbors join + a node-partitioned window-rank H-index (no neighbor-list collection — hub state stays one long) + one hash agg, off a checkpointed neighbor list")

  /** `plan` with the tokens that differ between runs of one plan made
    * stable: expression ids (`#n`), exchange ids (`plan_id=n`), AQE query
    * stage ids and whole-stage-codegen ids (`*(n)`) are renumbered by
    * first appearance, so references between operators survive and stages
    * that finish in another order print alike; TransformWithState run ids
    * and batch timestamps, lambda class numbers, identity hashes and the
    * session tag of shared scratch dirs are masked. */
  private[graft] def normalize(plan: String): String = {
    val masked = Seq(
      """runId = [0-9a-f-]{36}""" -> "runId = <runId>",
      """(stateStoreCkptIds = [^,]*, )\d+""" -> "$1<batchTimestampMs>",
      """\$\$Lambda(\$\d+)?/0x[0-9a-f]+""" -> "\\$\\$Lambda",
      """(?<=[\w$])@[0-9a-f]{1,8}\b""" -> "@<hash>",
      """(?<=/\w{1,64}_)[0-9a-f]{12}\b""" -> "<tag>"
    ).foldLeft(plan) { case (text, (re, to)) => re.r.replaceAllIn(text, to) }
    Seq("#", "plan_id=", "QueryStage ", "*(").foldLeft(masked) { (text, marker) =>
      val ids = scala.collection.mutable.HashMap.empty[String, Int]
      (java.util.regex.Pattern.quote(marker) + "(\\d+)").r.replaceAllIn(text, m =>
        marker + ids.getOrElseUpdate(m.group(1), ids.size))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val outFile = args.lift(1).getOrElse("PLANS.md")
    val spark = GraftSession.harness()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length > 2) dumpFormatted(spark, sfDir, outFile, args(2))
    else writePlansMd(spark, sfDir, outFile)
    spark.stop()
  }

  private def dumpFormatted(spark: SparkSession, sfDir: String, outDir: String,
      keys: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    keys.split(',').map(_.trim).filter(_.nonEmpty).foreach { k =>
      val fn = SparkEntry.queries.getOrElse(k,
        throw new IllegalArgumentException(s"unknown query '$k'"))
      val txt = normalize(
        fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
      Files.writeString(Paths.get(outDir, s"$k.txt"), txt)
      println(s"[plans] $k -> $outDir/$k.txt (${txt.length} chars)")
    }
  }

  private def writePlansMd(spark: SparkSession, sfDir: String, outFile: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — final physical plans of the flagship queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir` (AQE final plans, ")
    sb.append("post-execution). Regenerate: `sbt \"runMain graft.Plans\"`.\n")
    flagship.foreach { case (name, why) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect() // drive AQE to its final plan
      val plan = normalize(df.queryExecution.explainString(ExplainMode.fromString("simple")))
      // cap pathological lines: a plan-literal model artifact (e.g. the
      // ~60 KB serialized bloom filter) would otherwise dump as one
      // megascreen hex line and drown the plan it rides in
      val capped = plan.trim.linesIterator.map(l =>
        if (l.length > 400) l.take(400) + s"… [+${l.length - 400} chars]" else l)
        .mkString("\n")
      sb.append(s"\n## $name\n\n$why\n\n```\n$capped\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"[plans] wrote ${flagship.size} plans to $outFile")
  }
}
