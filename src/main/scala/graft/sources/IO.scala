package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink helpers beyond the driver's parquet tables.
  *
  * The reference ingests JSON log batches over HTTP and persists JSON
  * history files (/root/reference/src/ingestion/new_relic_fetcher.py,
  * /root/reference/src/dashboard/app.py:46-95). At engine scale those
  * become file sources/sinks:
  *
  *  - always pass an explicit schema to json/csv (schema inference is a
  *    full extra pass over 100 TB);
  *  - write fact tables partitioned by a low-cardinality column so reads
  *    prune partitions (`PartitionFilters` in `.explain`);
  *  - json for interchange, parquet for anything queried again.
  */
object IO {
  import org.apache.hadoop.fs.{FileSystem, Path}

  private def oldPath(p: Path) = new Path(p.toString + "__swap_old")

  /** Phase 2 of a PER-DIRECTORY two-phase compaction (the z-table / IVF
    * store protocol): for every `prefix`-named replacement dir under a
    * COMPLETE tmp (root _SUCCESS already cut by the writer), swap the
    * live dir aside and rename the replacement in, then drop the aside
    * copies and the tmp. Idempotent per dir — a crash at any point
    * resumes from [[recoverDirSwaps]] at the next writer entry: each dir
    * is pre-swap (live present, aside absent, replacement present),
    * mid-swap (live absent, aside present, replacement present), or done
    * (replacement renamed away) — all three distinguishable. Readers of
    * `liveParent` never see tmp/aside (they are SIBLINGS of the store
    * root, outside partition discovery); a reader racing phase 2 can
    * transiently miss a mid-swap dir (the documented append-visibility
    * caveat — the consistency point is commit completion). */
  def commitDirSwaps(fs: FileSystem, tmp: Path, liveParent: Path,
      old: Path, prefix: String): Unit = {
    // the swapped dirs AND their store root (tombstones, cuts, stats live
    // beside liveParent) go stale for every serve memo: at writer entry,
    // and again at the commit point (a serve that probed mid-swap cached
    // the pre-commit view)
    def invalidate(): Unit = {
      StoreProtocol.invalidateStore(liveParent.toString)
      Option(liveParent.getParent)
        .foreach(pp => StoreProtocol.invalidateStore(pp.toString))
    }
    invalidate()
    fs.mkdirs(old)
    fs.listStatus(tmp).filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(prefix)).foreach { rd =>
      val name = rd.getPath.getName
      val live = new Path(liveParent, name)
      val aside = new Path(old, name)
      if (!fs.exists(aside) && fs.exists(live) && !fs.rename(live, aside))
        sys.error(s"compact: cannot move $live aside")
      if (!fs.rename(rd.getPath, live))
        sys.error(s"compact: cannot move ${rd.getPath} into $live")
    }
    invalidate()
    fs.delete(old, true)
    fs.delete(tmp, true)
  }

  /** WRITER-entry healing for a crashed [[commitDirSwaps]]: a tmp with
    * the root _SUCCESS resumes phase 2; one without is phase-1 debris —
    * the live store was never touched. A stray aside dir without a
    * _SUCCESS'd tmp is a finished commit's crashed cleanup. */
  def recoverDirSwaps(fs: FileSystem, tmp: Path, liveParent: Path,
      old: Path, prefix: String): Unit = {
    if (fs.exists(new Path(tmp, "_SUCCESS")))
      commitDirSwaps(fs, tmp, liveParent, old, prefix)
    else {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(old)) fs.delete(old, true)
    }
  }

  /** Crash-safe replacement of a store directory with a freshly written
    * tmp dir. A delete(p)+rename(tmp,p) swap has a window where NO store
    * exists — a crash there silently loses all previously merged state
    * (the data sits only in tmp, which nothing reads). Rename-aside
    * instead: p → p__swap_old, tmp → p, delete p__swap_old. Every
    * intermediate state keeps a complete copy on disk, recoverable by
    * [[recoverStore]]; directory renames are atomic on HDFS-like
    * filesystems and on local posix. */
  def swapInto(fs: FileSystem, tmp: Path, p: Path): Unit = {
    val old = oldPath(p)
    if (fs.exists(old)) fs.delete(old, true) // debris from a healed crash
    if (fs.exists(p) && !fs.rename(p, old))
      sys.error(s"swap: cannot set aside $p")
    if (!fs.rename(tmp, p)) {
      // a reader landing in the mid-swap window (p set aside, tmp
      // complete) may have healed the store by promoting tmp itself
      // (recoverStoreForRead) — the swap then ALREADY happened and this
      // writer must not report a successful publish as failed
      if (!(fs.exists(p) && !fs.exists(tmp)))
        sys.error(s"swap: cannot promote $tmp to $p")
    }
    fs.delete(old, true)
  }

  /** Startup/entry recovery for a store maintained via [[swapInto]]:
    * decide which of (p, p__swap_old, tmp) is authoritative after a
    * crash, BEFORE any `fs.exists(p)` decision.
    *  - p exists → it is complete (renames are atomic); drop leftovers.
    *  - tmp complete (its _SUCCESS marker exists) → crash happened
    *    between the two renames; tmp holds the newest full state —
    *    promote it.
    *  - else old exists → restore the pre-swap store; the interrupted
    *    batch replays idempotently.
    *  - else → tmp (if present) is a partial first write; drop it. */
  def recoverStore(fs: FileSystem, p: Path, tmp: Path): Unit = {
    val old = oldPath(p)
    // rename returns false (not an exception) for several HDFS failure
    // modes; silently proceeding would let the caller first-write over a
    // missing p and a LATER recovery would then delete the only complete
    // copy. Fail loud instead — the store is intact where it is.
    def renameOrDie(from: Path, to: Path): Unit = {
      if (!fs.rename(from, to)) sys.error(s"recover: cannot rename $from to $to")
      StoreProtocol.invalidateStore(p.toString) // the healed generation is live
    }
    if (fs.exists(p)) {
      if (fs.exists(old)) fs.delete(old, true)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    } else if (fs.exists(new Path(tmp, "_SUCCESS"))) {
      renameOrDie(tmp, p)
      if (fs.exists(old)) fs.delete(old, true)
    } else if (fs.exists(old)) {
      renameOrDie(old, p)
      if (fs.exists(tmp)) fs.delete(tmp, true)
    } else if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** READER-side recovery for a [[swapInto]] store: heal only when the
    * live dir is MISSING (mid-swap crash — the one state a reader cannot
    * serve through), and never delete anything. A tmp next to a live
    * store may be a concurrent writer's in-flight output, not crash
    * debris; a reader that deletes it fails that writer's job. Deletion
    * of genuine debris belongs to writer entries ([[recoverStore]]),
    * where single-writer exclusion is the caller's contract anyway. */
  def recoverStoreForRead(fs: FileSystem, p: Path, tmp: Path): Unit = {
    if (fs.exists(p)) return
    val old = oldPath(p)
    // losing a rename race is SUCCESS here, not failure: another reader
    // healing the same crash, or the mid-swap writer itself completing
    // its promote, leaves the live dir in place — which is all a reader
    // needs. Only a failed rename with the live dir STILL missing is a
    // real fault (the store is genuinely unreadable).
    def renameOrHealed(from: Path, to: Path): Unit = {
      if (!fs.rename(from, to) && !fs.exists(p))
        sys.error(s"recover: cannot rename $from to $to")
      StoreProtocol.invalidateStore(p.toString) // the healed generation is live
    }
    if (fs.exists(new Path(tmp, "_SUCCESS"))) renameOrHealed(tmp, p)
    else if (fs.exists(old)) renameOrHealed(old, p)
  }

  /** ONE writer-entry publish protocol for every durable store
    * (signature index, IVF index, HLL slices, BPE model, lexical index):
    * heal crash debris ([[recoverStore]]), let `write` lay the store's
    * relations under the tmp dir, mark the tmp complete with a root
    * `_SUCCESS`, and promote it with the rename-aside swap
    * ([[swapInto]]). The stores used to hand-copy this five-step
    * sequence — and the copies drifted once already (the signature
    * index briefly carried a delete-a-live-writer's-tmp hazard the IVF
    * store had fixed); hoisting it here makes the next protocol fix land
    * in every store at once. `tmpSuffix` stays per-store so concurrent
    * writers of DIFFERENT stores at sibling paths can never collide. */
  def publishStore(spark: SparkSession, path: String, tmpSuffix: String)(
      write: Path => Unit): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new Path(path + tmpSuffix)
    recoverStore(fs, p, tmp) // writer-entry healing; tmp never survives it
    write(tmp)
    fs.create(new Path(tmp, "_SUCCESS")).close()
    StoreProtocol.invalidateStore(path) // serve memos go stale with the swap
    swapInto(fs, tmp, p)
    // commit point: a serve that probed between the entry invalidation and
    // the rename cached the old generation — drop it now the new one is live
    StoreProtocol.invalidateStore(path)
  }

  /** Reader-entry twin of [[publishStore]]: passive healing only
    * ([[recoverStoreForRead]] — complete a crashed swap iff no live dir
    * exists, never delete). Returns the filesystem for callers that
    * follow up with existence checks. */
  def readableStore(spark: SparkSession, path: String,
      tmpSuffix: String): FileSystem = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverStoreForRead(fs, p, new Path(path + tmpSuffix))
    fs
  }

  /** NDJSON log batches (the shape the reference's API returns). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC twin of the parquet paths — for deployments standardized on ORC
    * (same pushdown/pruning contract via the native vectorized reader). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Partitioned parquet sink — the default for anything re-queried.
    * Partition columns become directories, so filters on them never touch
    * excluded files. */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** JSON export (dashboard-history shape). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Bucketed managed table: both sides of a repeated large-to-large join
    * bucketed on the join key never exchange at read time (co-located
    * scans). The sort makes merge joins sort-free too. */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      numBuckets: Int): Unit =
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol).sortBy(bucketCol).saveAsTable(table)

  /** Range-partitioned, sorted parquet layout for range-predicate scans:
    * `repartitionByRange(col)` + `sortWithinPartitions(col)` gives every
    * output file a TIGHT, pairwise-disjoint min/max on `col`, so a
    * range-filtered read ("yesterday's errors") skips whole files and row
    * groups on parquet footer statistics alone — the layout behind
    * time-window queries over a 100 TB history store. Directory
    * partitioning (writePartitioned) prunes at day granularity; this
    * prunes WITHIN a partition too, and keeps file count decoupled from
    * key cardinality (a day with 10⁹ rows still gets size-appropriate
    * files, not one directory entry). Equal key values land in one file
    * (range partitioner), so skipped files provably hold no matches. */
  def writeRangeSorted(df: DataFrame, path: String, colName: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, df(colName))
      .sortWithinPartitions(colName)
      .write.mode("overwrite").parquet(path)

  /** Z-ordered (Morton) parquet layout: 2-D clustering for stores queried
    * by ranges on TWO columns at once (user × time, service × day).
    * [[writeRangeSorted]] makes one dimension prunable; a Z-order sort
    * makes both: each column is bucketed by its own approx-percentile
    * boundaries (equi-depth — skew-robust where a raw bit-slice would
    * drop most rows into a few buckets), the two bucket ids are
    * bit-interleaved by the native
    * [[graft.expressions.BitInterleave]] kernel into one Morton key, and
    * the store is range-partitioned + sorted on that key. Files then
    * carry tight footer min/max on BOTH columns, so a 2-D box query
    * skips every file outside the box in either dimension.
    *
    * NOTE: construction runs one boundary-sampling scan (eager, same
    * contract as the frozen percentile bounds). NULLs in either column
    * yield a NULL key and group at the front of the layout. */
  def writeZOrdered(df: DataFrame, path: String, c1: String, c2: String,
      numFiles: Int, buckets: Int = 256): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import graft.expressions.{BitInterleave, BucketIndex}
    val fracs = (1 until buckets).map(_.toDouble / buckets)
    val b = df.agg(
      approx_percentile(col(c1).cast("double"), typedLit(fracs), lit(10000)),
      approx_percentile(col(c2).cast("double"), typedLit(fracs), lit(10000))).head()
    def bucketOf(c: String, i: Int) = {
      // an all-NULL (or empty) column yields NULL bounds — degrade that
      // dimension to a single bucket instead of failing the write
      val bounds = Option(b.getSeq[Double](i)).filter(_.nonEmpty).getOrElse(Seq(0.0))
      Bridge.column(BucketIndex(
        Bridge.expression(col(c).cast("double")),
        Bridge.expression(typedLit(bounds))))
    }
    val zkey = Bridge.column(BitInterleave(
      Bridge.expression(bucketOf(c1, 0)),
      Bridge.expression(bucketOf(c2, 1))))
    df.withColumn("__zkey", zkey)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Store health snapshot — the trigger side of [[compact]]: a
    * maintenance job polls this and compacts when `smallFiles` crosses a
    * threshold, instead of rewriting stores on a blind schedule. Pure
    * filesystem metadata (one listStatus), no data read. */
  case class StoreStats(files: Int, bytes: Long, minFileBytes: Long,
      maxFileBytes: Long, smallFiles: Int)

  /** @param targetBytes a file below half this counts as "small" */
  def describeStore(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): StoreStats = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return StoreStats(0, 0L, 0L, 0L, 0)
    val sizes = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(_.getLen)
    if (sizes.isEmpty) StoreStats(0, 0L, 0L, 0L, 0)
    else StoreStats(sizes.length, sizes.sum, sizes.min, sizes.max,
      sizes.count(_ < targetBytes / 2))
  }

  /** Small-files compaction for a parquet store. Streaming sinks write one
    * file set per micro-batch (the upsert/index sinks here do), and a
    * store of 10⁵ kilobyte files costs more in scan-task launch and
    * footer reads than in data — the classic operational decay of a
    * long-running pipeline. Rewrites the store into
    * ceil(bytes / targetBytes) files via a round-robin repartition (no
    * key skew: compaction balances FILE SIZES, a hash repartition would
    * inherit the data's skew), through a tmp dir + swap because the plan
    * reads the store it replaces. Returns (filesBefore, filesAfter).
    *
    * Partitioned stores should compact per partition (pass the partition
    * dir) so untouched partitions keep their files — at 100 TB compaction
    * is an incremental maintenance job over recent partitions, never a
    * full-store rewrite. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): (Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "__compact_tmp")
    recoverStore(fs, p, tmp) // heal a crashed previous compaction first
    if (!fs.exists(p)) return (0, 0) // nothing to compact
    val dataFiles = fs.listStatus(p).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    // a marker-only or empty dir (e.g. the debris of a failed write) has
    // nothing to read — schema inference on it would throw, not no-op
    if (dataFiles.isEmpty) return (0, 0)
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    spark.read.parquet(path).repartition(nOut)
      .write.mode("overwrite").parquet(tmp.toString)
    swapInto(fs, tmp, p)
    // the compacted files replace the ones a cached serve handle of this
    // dir, or of the store that contains it, has listed
    StoreProtocol.invalidateStore(path)
    val after = fs.listStatus(p).count { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    (dataFiles.length, after)
  }
}
