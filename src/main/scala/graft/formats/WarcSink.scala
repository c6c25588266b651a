package graft.formats

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed WARC writer — the container-format direction the reader
  * ([[Warc.scan]]) consumes, so a pipeline can re-package a curated
  * corpus back into the interchange format the whole web-archive
  * ecosystem (warcio/pywb, reference recon SURVEY §1.1) reads. One
  * `.warc.gz` per input shard; each record is its OWN gzip member (the
  * seekable convention CDX `offset`/`length` columns point into — a
  * reader can range-request one record), with WARC/1.0 response records
  * carrying a full HTTP head and a writer-computed
  * `WARC-Payload-Digest: sha1:<base32>` (the warcio contract; digest
  * helper shared with the CDX surface, [[graft.functions.SurtAlg.base32]]).
  *
  * Scale notes: parallelism is per shard (repartition on `shard` — pick
  * shard cardinality ≈ desired file count); each task STREAMS its sorted
  * group through one output, so memory is O(1 record), never O(file).
  * Publish uses the CdxSink/ZipNumWrite attempt-isolation discipline:
  * write to an attempt-keyed `.tmp`, rename into place on roll, so a
  * speculative or zombie attempt can never truncate a winner's gzip.
  */
object WarcSink {

  /** `crawl/seg-3/warc-17.warc.gz` -> `warc-17.warc.gz`.
    * KEEP IN LOCKSTEP with [[warcNameCol]] — the clash pre-flight and
    * the repartition key both rely on the Column form computing exactly
    * this function; WarcSpec pins the equivalence over adversarial
    * shard values, so a divergence fails the suite, not the corpus. */
  private[graft] def warcName(shard: String, ext: String = ".warc.gz"): String = {
    val base = shard.substring(shard.lastIndexOf('/') + 1)
    if (base.endsWith(ext)) base else base + ext
  }

  /** the Catalyst twin of [[warcName]] (codegen-friendly — no UDF on
    * the corpus-sized repartition path) */
  private[graft] def warcNameCol(
      shard: org.apache.spark.sql.Column,
      ext: String = ".warc.gz"): org.apache.spark.sql.Column = {
    val base = substring_index(shard, "/", -1)
    when(base.endsWith(ext), base).otherwise(concat(base, lit(ext)))
  }

  /** allocation-free `^\d{14}$` — this runs once per record in the
    * writer's hot loop, where a regex Pattern.compile per row would be
    * measurable overhead */
  private[formats] def isTs14(s: String): Boolean = {
    if (s == null || s.length != 14) return false
    var i = 0
    while (i < 14) { val c = s.charAt(i); if (c < '0' || c > '9') return false; i += 1 }
    true
  }

  private[formats] def iso(ts14: String): String =
    s"${ts14.substring(0, 4)}-${ts14.substring(4, 6)}-${ts14.substring(6, 8)}T" +
      s"${ts14.substring(8, 10)}:${ts14.substring(10, 12)}:${ts14.substring(12, 14)}Z"

  /** Write `df` (columns: shard, url, ts [14-digit non-null], status,
    * mime, payload [binary]) as one `<shard-base>.warc.gz` per distinct
    * shard under `dir`, one gzip member per record. Rows with a null
    * status become `resource` records (content without a protocol
    * envelope); null payloads write as empty; a null mime omits the
    * HTTP Content-Type line. Shard base names must be distinct across
    * shard values (they name the output files). The write is staged: the
    * job fills `<dir>.staging-<id>` and only a fully successful job
    * swaps it into `dir` (backup-rename of the old corpus, swap, delete
    * backup), so any failure leaves the previous corpus in place.
    *
    * Publish caveats (single-writer-per-target assumed, like any staged
    * swap): the two publish renames are not one atomic operation, so a
    * concurrent READER can see `dir` absent for the instant between them
    * — retry-on-ENOENT or read a snapshot path if that matters; and a
    * writer crash in that window strands the corpus in `.old-<stamp>`.
    * The next write() heals that: on start it restores the newest
    * orphaned backup when `dir` is missing and clears leftover
    * `.staging-*`/`.old-*` siblings from dead runs.
    *
    * Sidecar support (the WET/WAT generation path, [[writeWet]] /
    * [[writeWat]]): an optional `record_type` column overrides the
    * response/resource default per row (`conversion` for WET text,
    * `metadata` for WAT JSON); `ext` overrides the codec-derived file
    * extension (`.warc.wet.gz` / `.warc.wat.gz` — the reader still
    * dispatches on the trailing `.gz`/`.zst`); a non-null `warcinfo`
    * opens every output file with a `warcinfo` record carrying it (the
    * Common Crawl sidecar convention), dated from the file's first
    * record so output stays deterministic. */
  def write(
      df: DataFrame, dir: String, codec: String = "gzip",
      ext: String = null, warcinfo: String = null,
      zstdDict: Array[Byte] = null, segmentBytes: Int = 0): Unit = {
    val need = Seq("shard", "url", "ts", "status", "mime", "payload")
    require(need.forall(df.columns.contains),
      s"WarcSink.write needs [${need.mkString(", ")}]; got [${df.columns.mkString(", ")}]")
    require(zstdDict == null || codec == "zstd",
      "WarcSink.write: zstdDict only applies to codec=zstd")
    require(segmentBytes >= 0, s"segmentBytes must be >= 0, got $segmentBytes")
    // deduplicated-corpus support (sink_warc_revisit_write): on REVISIT
    // rows only, `digest` overrides the writer-computed
    // WARC-Payload-Digest (a revisit names the ORIGINAL payload's digest
    // while carrying none itself; other record types always keep the
    // computed digest, so a df that merely carries a digest column — a
    // re-written scan does — cannot silently propagate header-claimed
    // digests); `refers_url` + `refers_ts` (14-digit, both required
    // together) become the revisit profile's WARC-Refers-To-Target-URI /
    // WARC-Refers-To-Date headers
    val optional =
      Seq("record_type", "digest", "refers_url", "refers_ts").filter(df.columns.contains)
    val cols = need ++ optional
    // zstd shards follow warcio's .warc.zst convention: one self-contained
    // frame per record, the same seekable unit the CDX offset/length
    // columns point into; the independent reader dispatches on extension
    val defaultExt = codec match {
      case "gzip" => ".warc.gz"
      case "zstd" => ".warc.zst"
      case other => throw new IllegalArgumentException(
        s"WarcSink.write: codec must be gzip or zstd, got '$other'")
    }
    val outExt = Option(ext).getOrElse(defaultExt)
    // the scan dispatches its member reader on the trailing extension —
    // a mismatched override would write zstd frames the gzip path rejects
    require(outExt.endsWith(if (codec == "zstd") ".zst" else ".gz"),
      s"WarcSink.write: ext '$outExt' conflicts with codec '$codec'")
    val spark = df.sparkSession
    // VALIDATE BEFORE DESTROY: null shards and clashing normalized
    // basenames are rejected while the previous corpus is still intact.
    // This pre-flight re-reads the one shard column (a pruned extra pass
    // over the input lineage — cheap, and it fails in milliseconds with
    // a clear message instead of launching the write job); the in-task
    // guard in the publish loop stays as defense in depth for anything
    // the pre-flight's snapshot misses on nondeterministic lineage.
    // warcNameCol propagates null shards to a null group on its own
    val clash = df.select(col("shard"))
      .groupBy(warcNameCol(col("shard"), outExt).as("base"))
      .agg(countDistinct(col("shard")).as("n"))
      .filter(col("base").isNull || col("n") > 1)
      .limit(5).collect()
    require(clash.isEmpty,
      "WarcSink.write: shard values must be non-null and their normalized " +
        s"basenames unique (they name the output $outExt files); offending " +
        "basenames: " + clash.map(r => String.valueOf(r.get(0))).mkString(", "))
    val dirPath = new Path(dir)
    val fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CRASH RECOVERY: a previous run that died between its two publish
    // renames leaves the corpus stranded in `.old-<stamp>` (dir absent),
    // and any crashed run leaves its `.staging-<stamp>` behind. Writers
    // are exclusive per target (the staged swap already assumes that), so
    // every such sibling belongs to a dead run: restore the newest backup
    // when the corpus is missing, then clear the leftovers.
    val parent = dirPath.getParent
    if (parent != null && fs.exists(parent)) {
      val base = dirPath.getName
      val orphans = fs.listStatus(parent).filter { st =>
        val n = st.getPath.getName
        n.startsWith(s"$base.staging-") || n.startsWith(s"$base.old-")
      }
      if (!fs.exists(dirPath)) {
        val backups = orphans.filter(_.getPath.getName.startsWith(s"$base.old-"))
        if (backups.nonEmpty) {
          val newest = backups.maxBy(_.getModificationTime).getPath
          require(fs.rename(newest, dirPath),
            s"WarcSink.write: could not restore orphaned backup $newest to $dirPath")
        }
      }
      // the restored backup was renamed away; an .old-* next to a live
      // dir is superseded and always reaped. A .staging-* is only
      // PRESUMED dead once its mtime is stale: writers are exclusive per
      // target by contract, but unconditionally deleting staging would
      // turn a contract violation (two concurrent writers) into a
      // SILENTLY PARTIAL published corpus — hadoop create() re-makes the
      // deleted dir, the victim's surviving tasks succeed, and it
      // publishes missing every earlier file. Age-gating keeps that
      // failure loud-ish (the violator's cleanup no longer eats a live
      // run) while still reaping genuinely dead runs on later writes.
      val staleCutoff = System.currentTimeMillis() - 24L * 3600 * 1000
      orphans.foreach { st =>
        val isStaging = st.getPath.getName.startsWith(s"$base.staging-")
        if (fs.exists(st.getPath) && (!isStaging || st.getModificationTime < staleCutoff))
          fs.delete(st.getPath, true)
      }
    }
    // STAGE THEN SWAP: the job writes into a sibling staging dir, and only
    // a fully successful job replaces `dir` (backup-rename, swap in,
    // delete backup). Any mid-write task failure — including a clash the
    // pre-flight's snapshot missed, caught by the in-task guard — leaves
    // the previous good corpus untouched instead of destroyed-and-partial.
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val staging = dirPath.suffix(s".staging-$stamp")
    if (fs.exists(staging)) fs.delete(staging, true)
    fs.mkdirs(staging)
    val outDir = staging.toString
    val sconf = new SerializableHadoopConf(spark.sparkContext.hadoopConfiguration)
    // Partition on the NORMALIZED output name (the warcName() image of
    // the shard), not the raw shard value: two distinct shards sharing a
    // normalized basename then land in the SAME task, where the publish
    // loop re-detects any collision the pre-flight's snapshot missed and
    // fails before the second rename-OVERWRITE could silently replace
    // the first shard's file.
    try df.select(cols.map(col): _*)
      .repartition(warcNameCol(col("shard"), outExt))
      .sortWithinPartitions("shard", "url", "ts", "status")
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        // optional-column indexes resolved once per task (the select above
        // fixes the layout; -1 = column absent)
        val iType = cols.indexOf("record_type")
        val iDigest = cols.indexOf("digest")
        val iRefUrl = cols.indexOf("refers_url")
        val iRefTs = cols.indexOf("refers_ts")
        val pfs = org.apache.hadoop.fs.FileSystem.newInstance(
          new Path(outDir).toUri, sconf.value)
        pfs.setWriteChecksum(false) // private instance — see CdxSink note
        val fctx: Option[org.apache.hadoop.fs.FileContext] =
          try Some(org.apache.hadoop.fs.FileContext.getFileContext(
            new Path(outDir).toUri, sconf.value))
          catch { case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None }
        val attempt = Option(org.apache.spark.TaskContext.get())
          .map(tc => s"${tc.partitionId()}-${tc.taskAttemptId()}")
          .getOrElse(java.util.UUID.randomUUID().toString)
        val sha1 = java.security.MessageDigest.getInstance("SHA-1")
        // ONE native zstd context per task, reused across records: a
        // context per frame (Zstd.compress) costs a native alloc+init in
        // the hot loop — measured 2.5x the whole write at sf0.1
        val zctx =
          if (codec == "zstd") new com.github.luben.zstd.ZstdCompressCtx()
          else null
        // gzip twin of the reused zstd context: ONE native Deflater per
        // task across all members (a per-record init+end measured as the
        // dominant cost of the zstd writer's first cut)
        val gzDeflater = if (codec == "gzip") Gzip.memberDeflater() else null
        // dict mode (warcio's full .warc.zst convention): the dictionary
        // loads into the reused task context ONCE — every record frame
        // compresses against it — and each output file opens with the
        // dict parked (itself zstd-compressed) in the leading skippable
        // slot, where the scan's in-stream capture and the pointer
        // replay's offset-0 load both find it
        if (zctx != null && zstdDict != null) zctx.loadDict(zstdDict)
        val dictSlot =
          if (zstdDict != null)
            ZstdMembers.skippableFrame(ZstdMembers.compressFrame(zstdDict))
          else null
        var current: String = null
        var out: java.io.OutputStream = null
        def close(): Unit = if (out != null) {
          out.close(); out = null
          val tmp = new Path(outDir, s".${warcName(current, outExt)}.$attempt.tmp")
          val fin = new Path(outDir, warcName(current, outExt))
          fctx match {
            case Some(fc) => // atomicity caveats identical to CdxSink
              fc.rename(tmp, fin, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
            case None =>
              if (!pfs.rename(tmp, fin)) {
                pfs.delete(fin, false)
                require(pfs.rename(tmp, fin),
                  s"could not publish ${fin.getName} from ${tmp.getName}")
              }
          }
        }
        // colliding shards co-locate here (the repartition key above), so
        // name -> first-shard tracking inside the task catches every clash
        val published = scala.collection.mutable.HashMap.empty[String, String]
        try {
          it.foreach { row =>
            require(!row.isNullAt(0),
              "WarcSink: null shard value (rows must name their output file)")
            val shard = row.getString(0)
            if (shard != current) {
              close()
              val name = warcName(shard, outExt)
              published.get(name) match {
                case Some(other) if other != shard =>
                  throw new IllegalArgumentException(
                    s"WarcSink: shard basenames must be unique across shard " +
                      s"values (they name the output files) — '$shard' and " +
                      s"'$other' both publish $name")
                case _ => published.update(name, shard)
              }
              current = shard
              out = pfs.create(new Path(outDir, s".${warcName(shard, outExt)}.$attempt.tmp"), true)
              if (dictSlot != null) out.write(dictSlot) // FIRST frame of the file
              if (warcinfo != null) {
                // sidecar convention: every file opens with a warcinfo
                // record; dated from the file's FIRST record (the sort
                // makes that deterministic — no wall clock in the bytes)
                require(!row.isNullAt(2) && isTs14(row.getString(2)),
                  s"WarcSink: ts must be 14 digits; got ${row.getString(2)}")
                val infoBytes = warcinfo.getBytes("UTF-8")
                val info = Warc.renderRecord(Warc.FixtureRecord(
                  "warcinfo", null, iso(row.getString(2)),
                  graft.functions.SurtAlg.base32(sha1.digest(infoBytes)), 0,
                  "application/warc-fields", infoBytes))
                if (zctx != null) out.write(zctx.compress(info))
                else Gzip.writeMember(out, info, gzDeflater)
              }
            }
            require(!row.isNullAt(2) && isTs14(row.getString(2)),
              s"WarcSink: ts must be 14 digits (WARC-Date source, the " +
                s"CdxServer.timemap discipline); got ${row.getString(2)} " +
                s"for url=${row.getString(1)}")
            // a curated corpus read back via Warc.scan can carry null
            // status/mime/payload (malformed HTTP heads parse to nulls):
            // no status -> a `resource` record (content without protocol
            // envelope, spec-legal), null payload -> empty bytes, null
            // mime -> renderRecord omits the Content-Type line
            val payload = Option(row.getAs[Array[Byte]]("payload"))
              .getOrElse(Array.emptyByteArray)
            val isResp = !row.isNullAt(3)
            // an explicit record_type (the WET/WAT sidecar path) wins;
            // `response` stays tied to a real status — a typed row
            // claiming response without one would render a garbage head
            val rtype =
              if (iType >= 0 && !row.isNullAt(iType)) row.getString(iType)
              else if (isResp) "response" else "resource"
            require(rtype != "response" || isResp,
              s"WarcSink: record_type=response needs a status (url=${row.getString(1)})")
            sha1.reset()
            // the digest override applies to REVISIT rows only (a
            // revisit names the ORIGINAL payload's digest — computing
            // from its own empty block would break the digest-join
            // resolution the format exists for). Every other record
            // type keeps the writer-computed digest even when the input
            // df happens to carry a digest column (a re-written scan
            // does) — header-claimed digests must not silently replace
            // self-consistent computed ones.
            val digest =
              if (rtype == "revisit" && iDigest >= 0 && !row.isNullAt(iDigest))
                row.getString(iDigest)
              else graft.functions.SurtAlg.base32(sha1.digest(payload))
            val refUrl =
              if (iRefUrl >= 0 && !row.isNullAt(iRefUrl)) row.getString(iRefUrl) else null
            val refTs =
              if (iRefTs >= 0 && !row.isNullAt(iRefTs)) row.getString(iRefTs) else null
            // the revisit profile is all-or-nothing: a refers_url with no
            // refers_ts would render the literal 'WARC-Refers-To-Date:
            // null' into the record
            require(refUrl == null || (refTs != null && isTs14(refTs)),
              s"WarcSink: refers_url requires a 14-digit refers_ts; got " +
                s"refers_ts=$refTs for url=${row.getString(1)}")
            // a revisit with a recorded status renders the duplicate
            // capture's HTTP head (identical-payload-digest profile) —
            // status/mime survive dedup, only the payload bytes are shed
            val fr = Warc.FixtureRecord(
              rtype, row.getString(1), iso(row.getString(2)), digest,
              if (isResp && (rtype == "response" || rtype == "revisit")) row.getInt(3) else 0,
              row.getString(4), payload,
              refersToUri = refUrl,
              refersToDate = if (refTs != null) iso(refTs) else null)
            // segmentBytes > 0: oversized blocks write as ISO 28500 §5
            // segment chains (one record per member, all in THIS file —
            // cross-file segmentation is read-side generality only);
            // within-budget records stay byte-identical to the plain path
            val recs =
              if (segmentBytes > 0) Warc.renderSegments(fr, segmentBytes)
              else Seq(Warc.renderRecord(fr))
            recs.foreach { rec =>
              if (zctx != null) out.write(zctx.compress(rec))
              else Gzip.writeMember(out, rec, gzDeflater)
            }
          }
          close()
        } finally {
          if (out != null) out.close()
          if (zctx != null) try zctx.close() catch { case _: Throwable => }
          if (gzDeflater != null) try gzDeflater.end() catch { case _: Throwable => }
          try pfs.close() catch { case _: Throwable => }
        }
      }
    catch { case t: Throwable =>
      // failed job: drop the partial staging output, keep the old corpus
      try fs.delete(staging, true) catch { case _: Throwable => }
      throw t
    }
    // success: swap the staging dir into place. Move the old corpus aside
    // first (rename, not delete) so a rename failure can restore it — the
    // previous corpus survives EVERY failure mode, not just pre-flight-
    // detectable ones.
    val backup = dirPath.suffix(s".old-$stamp")
    val hadOld = fs.exists(dirPath)
    if (hadOld) require(fs.rename(dirPath, backup),
      s"WarcSink.write: could not move the previous corpus aside ($dirPath -> " +
        s"$backup); new corpus left intact at $staging")
    if (!fs.rename(staging, dirPath)) {
      // the restore can fail under the same FS fault — report what
      // actually happened, never claim a restore that didn't occur
      val restored = hadOld && fs.rename(backup, dirPath)
      throw new java.io.IOException(
        s"WarcSink.write: could not publish $staging as $dirPath" +
          (if (restored) "; previous corpus restored"
          else if (hadOld) s"; RESTORE FAILED — previous corpus is at $backup"
          else ""))
    }
    if (hadOld) fs.delete(backup, true)
  }

  /** Train a zstd dictionary from a bounded SAMPLE of the records about
    * to be written — the side-artifact discipline (build once per corpus
    * revision, pass into [[write]]'s `zstdDict`): renders up to
    * `maxSamples` rows through the same record renderer the writer uses
    * (so the dictionary learns the real WARC header vocabulary) and runs
    * ZDICT over them. Small-record corpora are exactly where the warcio
    * dict convention pays — the shared header boilerplate compresses to
    * dictionary references.
    *
    * ZDICT refuses degenerate inputs (too few/too-small samples); the
    * fallback is a raw CONTENT dictionary — the concatenated sample
    * prefixes, the `writeFixtureZstDict` convention — which zstd accepts
    * as a dictionary verbatim. Either way the result round-trips through
    * the reader's plain-then-dict decode. The limit() bounds the driver
    * transfer itself. */
  def trainZstdDict(
      df: DataFrame, dictSize: Int = 16 << 10, maxSamples: Int = 2000): Array[Byte] = {
    val need = Seq("url", "ts", "status", "mime", "payload")
    require(need.forall(df.columns.contains),
      s"WarcSink.trainZstdDict needs [${need.mkString(", ")}]; got [${df.columns.mkString(", ")}]")
    val sha1 = java.security.MessageDigest.getInstance("SHA-1")
    val samples = df.select(need.map(col): _*).limit(maxSamples).collect().map { row =>
      val payload = Option(row.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray)
      val isResp = !row.isNullAt(2)
      sha1.reset()
      Warc.renderRecord(Warc.FixtureRecord(
        if (isResp) "response" else "resource",
        row.getString(0), iso(row.getString(1)),
        graft.functions.SurtAlg.base32(sha1.digest(payload)),
        if (isResp) row.getInt(2) else 0, row.getString(3), payload))
    }
    require(samples.nonEmpty, "WarcSink.trainZstdDict: no sample rows")
    try {
      val trainer = new com.github.luben.zstd.ZstdDictTrainer(
        samples.map(_.length).sum, dictSize)
      samples.foreach(trainer.addSample)
      trainer.trainSamples()
    } catch {
      case _: com.github.luben.zstd.ZstdException =>
        // raw content dictionary: sample prefixes, capped at dictSize
        val out = new java.io.ByteArrayOutputStream()
        val it = samples.iterator
        while (out.size < dictSize && it.hasNext) {
          val s = it.next()
          out.write(s, 0, math.min(s.length, math.min(200, dictSize - out.size)))
        }
        out.toByteArray
    }
  }

  /** a WARC shard name's sidecar base: `warc-17.warc.gz` -> `warc-17`,
    * so warcName() rebuilds the Common Crawl sidecar names
    * (`warc-17.warc.wet.gz` / `.warc.wat.gz`) instead of stacking
    * extensions */
  private def sidecarShard = regexp_replace(col("shard"), "\\.warc\\.(gz|zst)$", "")

  /** WET sidecar writer — the GENERATION direction of the Common Crawl
    * `*.warc.wet.gz` convention the engine already consumes
    * ([[graft.Pipeline.wetToCorpus]], scan_wet): `df` = (shard, url,
    * ts [14-digit], text) becomes one `<shard-base>.warc.wet.gz` per
    * shard of WARC `conversion` records (text/plain payloads, the WET
    * contract) behind a leading `warcinfo` record. Round-trips through
    * the engine's own scan — WarcSpec pins wetToCorpus(written) equal to
    * the extraction over the original WARC. */
  def writeWet(df: DataFrame, dir: String): Unit =
    write(
      df.select(
        sidecarShard.as("shard"), col("url"), col("ts"),
        lit(null).cast("int").as("status"), lit(null).cast("string").as("mime"),
        col("text").cast("binary").as("payload"),
        lit("conversion").as("record_type")),
      dir, ext = ".warc.wet.gz",
      warcinfo = "software: graft\r\nformat: WARC File Format 1.0\r\n" +
        "description: extracted-text sidecar (WET)")

  /** WAT sidecar writer — the GENERATION direction of `*.warc.wat.gz`
    * ([[graft.Pipeline.watLinks]], scan_wat): `df` = (shard, url, ts,
    * meta [the JSON envelope string — build it with
    * [[graft.Pipeline.watEnvelope]]]) becomes WARC `metadata` records
    * (application/json payloads) behind a leading `warcinfo` record. */
  def writeWat(df: DataFrame, dir: String): Unit =
    write(
      df.select(
        sidecarShard.as("shard"), col("url"), col("ts"),
        lit(null).cast("int").as("status"), lit("application/json").as("mime"),
        col("meta").cast("binary").as("payload"),
        lit("metadata").as("record_type")),
      dir, ext = ".warc.wat.gz",
      warcinfo = "software: graft\r\nformat: WARC File Format 1.0\r\n" +
        "description: response-metadata sidecar (WAT)")
}
