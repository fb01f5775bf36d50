package graft.stores

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Encoder, SparkSession}

/** A small metadata table: the storage primitive shared by [[Registry]]
  * (one row per artifact) and [[ParameterStore]] (one row per key).
  * Both are metadata-sized by contract — the reference keeps the same
  * data in the Glue catalog, resource tags and SSM, i.e. catalog calls,
  * not query-engine work — so reads and writes happen on the driver and
  * no Spark job runs on a warm path.
  *
  * ── storage layout: immutable numbered GENERATION dirs ──
  *
  * The r13 swap (write tmp → rotate to _bak → rename into place) made
  * WRITES crash-safe but left readers racing the rotation: a reader that
  * listed the live dir's part-files lost them to the rename/delete before
  * its scan task ran (the 10× bench ladder reproduced exactly that as
  * FileScanRDD FILE_NOT_EXIST task failures inside q91/q94's concurrent
  * inferences). Generations remove the race instead of retrying it:
  *  - every write lands as a NEW immutable subdir `gen-<n>-<uuid>`, made
  *    visible by one atomic rename of a dot-dir (`.tmp-<uuid>`, invisible
  *    to readers); a rename that reports failure aborts the write;
  *  - readers resolve the newest generation with a fresh listing;
  *  - the writer GCs generations at least two behind, so a file set a
  *    reader resolved stays on disk for two full write cycles, and
  *    `.tmp-*` dirs older than the stale-lock age (a crashed writer's
  *    leftovers — a fresh one belongs to a live writer);
  *  - a flat part-file dir written before generations existed reads as
  *    generation zero (uncached: it is mutable); the next write moves it
  *    onto generations.
  *
  * A generation's content can never change after its rename, so one
  * JVM-wide map (generation path → rows) serves every repeat read with
  * zero Spark jobs, and the writer seeds it with the rows it just wrote.
  * A generation another JVM wrote is read once with `spark.read.parquet`.
  *
  * The generation's single part file is written on the driver by
  * [[DriverParquet.writeFile]], fed by the row encoder's serializer: the
  * file is what a one-task `coalesce(1).write.parquet` would produce,
  * footer schema metadata included, without the job.
  */
private[stores] final class MetaTable[T: Encoder](spark: SparkSession, path: String) {
  import MetaTable._

  private val dir = new Path(path)
  private def fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private val encoder = org.apache.spark.sql.catalyst.encoders.encoderFor[T]

  private def genNum(st: FileStatus): Long = st.getPath.getName.split("-")(1).toLong
  private def isGen(st: FileStatus) = st.isDirectory && st.getPath.getName.startsWith("gen-")

  private def listing(): Seq[FileStatus] =
    if (!fs.exists(dir)) Seq.empty else fs.listStatus(dir).toSeq

  /** Newest readable copy: the max generation dir, else a flat
    * pre-generation part-file layout (the dir itself). */
  private def readSource(): Option[String] = {
    val st = listing()
    val gens = st.filter(isGen)
    if (gens.nonEmpty) Some(gens.maxBy(genNum).getPath.toString)
    else if (st.exists(s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      Some(fs.makeQualified(dir).toString)
    else None
  }

  private def read(src: String): Seq[T] =
    spark.read.parquet(src).as[T].collect().toSeq

  def rows(): Seq[T] = {
    // residual READ-SIDE GUARD: a reader that resolved generation n−1
    // just before n landed can still lose it to the GC two writes later;
    // every generation is complete, so a loser re-resolves and retries.
    var attempt = 0
    while (attempt < 8) {
      readSource() match {
        case None => return Seq.empty
        case Some(src) =>
          val hit = genCache.get(src)
          if (hit != null) return hit.asInstanceOf[Seq[T]]
          try {
            val rs = read(src)
            if (src != fs.makeQualified(dir).toString) cachePut(src, rs)
            return rs
          } catch { case scala.util.control.NonFatal(_) =>
            attempt += 1; Thread.sleep(20) }
      }
    }
    readSource().map(read).getOrElse(Seq.empty) // last try, loud
  }

  /** Locked read-modify-write: `f` maps the current rows to the next
    * generation's rows. */
  def update(f: Seq[T] => Seq[T]): Unit = withLock() { install(f(rows())) }

  private def install(updated: Seq[T]): Unit = {
    val st = listing()
    val gens = st.filter(isGen)
    val next = if (gens.isEmpty) 0L else gens.map(genNum).max + 1
    val uuid = java.util.UUID.randomUUID().toString
    val tmp = new Path(dir, s".tmp-$uuid")
    val serializer = encoder.createSerializer()
    DriverParquet.writeFile(spark, new Path(tmp, s"part-00000-$uuid-c000"),
      encoder.schema, updated.iterator.map(serializer))
    val genDir = new Path(dir, f"gen-$next%09d-$uuid")
    if (!fs.rename(tmp, genDir)) {
      fs.delete(tmp, true)
      throw new java.io.IOException(s"could not install $genDir: rename from $tmp failed")
    }
    // the writer KNOWS the rows it just installed: seed the cache so the
    // read-back that every get/update does costs no Spark job at all
    cachePut(fs.makeQualified(genDir).toString, updated)
    // GC: generations two or more behind (in-flight readers may still
    // hold the previous one), flat pre-generation part-files, and
    // crashed writers' tmp dirs
    val cutoff = System.currentTimeMillis() - StaleMs
    gens.filter(g => genNum(g) <= next - 2).foreach(g => fs.delete(g.getPath, true))
    st.filter(_.isFile).foreach(s => fs.delete(s.getPath, false))
    st.filter(s => s.isDirectory && s.getPath.getName.startsWith(".tmp-") &&
      s.getModificationTime < cutoff).foreach(s => fs.delete(s.getPath, true))
  }

  /** Mutual exclusion for the read-modify-write cycle: an atomic
    * create-if-absent lockfile next to the table (the filesystem analogue
    * of the reference's Glue DDL retry/backoff — athena_source.py:253-288).
    * A lock older than `staleMs` is treated as a crashed writer's
    * leftover and broken. */
  private def tryAcquire(lock: Path, token: String): Boolean = {
    val scheme = lock.toUri.getScheme
    if (scheme == null || scheme == "file") {
      // Hadoop's RawLocalFileSystem.createNewFile is check-then-act;
      // java.nio Files.createFile is the actually-atomic local primitive
      try {
        val p = java.nio.file.Paths.get(lock.toUri.getPath)
        java.nio.file.Files.createFile(p)
        java.nio.file.Files.write(p, token.getBytes("UTF-8"))
        true
      } catch { case _: java.io.IOException => false }
    } else // HDFS/object stores: create(overwrite=false) is atomic server-side
      try {
        val out = fs.create(lock, false)
        out.write(token.getBytes("UTF-8")); out.close(); true
      } catch { case _: Exception => false }
  }

  private def lockToken(lock: Path): Option[String] =
    try {
      val in = fs.open(lock)
      try {
        val buf = new Array[Byte](64)
        val n = in.read(buf)
        Some(new String(buf, 0, math.max(n, 0), "UTF-8"))
      } finally in.close()
    } catch { case _: Exception => None }

  private def withLock[R](staleMs: Long = StaleMs, timeoutMs: Long = 30000L)(f: => R): R = {
    val lock = new Path(path + "_lock")
    // a unique token identifies THIS acquisition: after breaking a stale
    // lock, the (possibly still-live) previous holder's release must not
    // free the lock out from under the new holder — each writer deletes
    // only the lockfile carrying its own token
    val token = java.util.UUID.randomUUID().toString
    fs.mkdirs(lock.getParent) // first-ever write: the root may not exist yet
    val deadline = System.currentTimeMillis() + timeoutMs
    var acquired = false
    while (!acquired) {
      acquired = tryAcquire(lock, token)
      if (!acquired) {
        val stale = try {
          System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime > staleMs
        } catch { case _: Exception => false } // holder released between checks
        // break a stale lock by atomic RENAME, not delete: two waiters
        // that both judged it stale would otherwise both delete — the
        // second delete landing AFTER the first waiter re-acquired,
        // destroying a live lock and letting both enter the critical
        // section. Rename succeeds for exactly one breaker; the loser
        // just loops back to tryAcquire.
        if (stale) {
          val broken = new Path(lock.toString + ".stale-" + token)
          try { if (fs.rename(lock, broken)) fs.delete(broken, false) }
          catch { case _: Exception => () }
        }
        else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"metadata table lock at $lock not released within ${timeoutMs}ms")
        else Thread.sleep(20)
      }
    }
    try f finally {
      if (lockToken(lock).contains(token)) fs.delete(lock, false)
    }
  }
}

private[stores] object MetaTable {
  /** Age after which a lockfile or `.tmp-*` dir is a crashed writer's. */
  val StaleMs = 60000L

  /** JVM-wide rows cache keyed by immutable generation-dir path. Hits are
    * exact (never stale) — cross-process writers surface as NEW
    * generation paths, which fresh listings resolve. Bounded
    * defensively; entries are a handful of metadata rows. */
  private val genCache = new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()
  private def cachePut(key: String, rs: Seq[Any]): Unit = {
    if (genCache.size > 8192) genCache.clear()
    genCache.put(key, rs); ()
  }
}
