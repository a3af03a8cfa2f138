package graft.ops

import org.apache.spark.sql.SparkSession

/** One registry for every per-corpus, per-JVM write-once artifact the
  * engine keeps: in-memory ones (candidate graphs, IVF training frames,
  * table metadata, JDBC snapshots) through [[cached]], and on-disk ones
  * (persisted indexes, scratch layouts and the catalog tables they
  * register) through [[persisted]] — the r13 VERDICT #5 ask: before this,
  * ~8 static ConcurrentHashMaps each grew without bound as the soak
  * matrix widened (every regime re-keys every family).
  *
  * Semantics:
  *  - **Per-key build lock**: one builder per (family, key); concurrent
  *    callers of the same key wait, different keys build in parallel.
  *    The build runs OUTSIDE the map lock, so a build may itself call
  *    `cached` for a different key in the same family (the wedge-count
  *    build consumes the und/deg frames this way) without deadlock —
  *    the hazard that forced Dedup's old get/putIfAbsent spelling.
  *  - **LRU bound**: each family keeps at most [[MaxPerFamily]] entries;
  *    eviction drops the map reference only — a persisted artifact's
  *    files stay (a frame built earlier never loses them to an unrelated
  *    build) until [[drop]]/[[dropAll]] or JVM exit, and an evicted key
  *    simply rebuilds.
  *  - **Explicit release**: [[drop]]/[[dropAll]] empty the registry,
  *    deleting every resident persisted artifact's files and tables.
  *  - **Stats**: [[statsString]] reports current/peak entries per family
  *    so a widening corpus matrix is visible in the round's SOAK notes
  *    instead of silent; [[builds]] counts each family's builds.
  */
object CorpusScope {

  val MaxPerFamily = 64

  private final class Family {
    // accessOrder=true → iteration order is least-recently-used first.
    val map = new java.util.LinkedHashMap[String, AnyRef](16, 0.75f, true)
    val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
    var peak = 0
    val builds = new java.util.concurrent.atomic.AtomicInteger
  }

  private val families =
    new java.util.concurrent.ConcurrentHashMap[String, Family]()

  /** Get-or-build the artifact for (family, key). `build` runs at most
    * once per key per residency (an LRU-evicted key rebuilds). */
  def cached[T <: AnyRef](family: String, key: String)(build: => T): T = {
    val fam = families.computeIfAbsent(family, _ => new Family)
    while (true) {
      fam.map.synchronized {
        val v = fam.map.get(key)
        if (v != null) return v.asInstanceOf[T]
      }
      val lock = fam.locks.computeIfAbsent(key, _ => new Object)
      lock.synchronized {
        // Identity re-check (ADVICE r15 #2): if the lock we hold is no
        // longer the one registered for this key, a completed build
        // pruned it (and the value may ALREADY have been LRU-evicted
        // again) — building here could run concurrently with a
        // fresh-lock builder. Retry from the top instead: re-read the
        // map, then join whatever lock is current. This makes "at most
        // one build per residency" hold exactly, not just usually.
        if (fam.locks.get(key) eq lock) {
          fam.map.synchronized {
            val v = fam.map.get(key)
            if (v != null) return v.asInstanceOf[T]
          }
          fam.builds.incrementAndGet()
          val built = build
          fam.map.synchronized {
            fam.map.put(key, built)
            while (fam.map.size > MaxPerFamily) {
              val it = fam.map.entrySet().iterator()
              it.next(); it.remove()
            }
            // resident peak (post-trim): "how many corpora were live at once"
            fam.peak = math.max(fam.peak, fam.map.size)
          }
          // Prune the build lock once the value is published: without this,
          // every distinct content-stamped key retained a lock Object + key
          // string FOREVER (the registry bounded the values but not the
          // locks — a regenerating soak corpus rolls keys every run and the
          // lock map grew without bound). A racer that already holds this
          // lock object re-checks identity above and retries; a late
          // arrival creates a fresh lock, then finds the value.
          fam.locks.remove(key)
          return built
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Non-building lookup — spec hooks that ask "was this built yet?". */
  def peek[T <: AnyRef](family: String, key: String): Option[T] = {
    val fam = families.get(family)
    if (fam == null) None
    else fam.map.synchronized(Option(fam.map.get(key)).map(_.asInstanceOf[T]))
  }

  /** Builds started for `family` since JVM start (0 for an unknown one);
    * not reset by [[drop]]. */
  def builds(family: String): Int = {
    val fam = families.get(family)
    if (fam == null) 0 else fam.builds.get
  }

  /** Where a persisted build writes: its own directory plus the catalog
    * tables it registers, named `<prefix><key>` so concurrent corpora and
    * scale factors never collide. The key hashes the family with the
    * inputs' content stamps; paths stay short because plan strings cut a
    * scan's location at 100 characters. */
  final class Artifact private[CorpusScope] (
      key: String, dir: java.io.File, spark: SparkSession) {
    @volatile private[CorpusScope] var value: AnyRef = _
    private[CorpusScope] val tables =
      new java.util.concurrent.CopyOnWriteArrayList[String]()

    /** A path inside the artifact's directory. */
    def path(prefix: String): String = new java.io.File(dir, prefix + key).getPath

    /** A catalog table owned by the artifact. A previous JVM's managed-table
      * location outlives its in-memory catalog (saveAsTable would then fail
      * with LOCATION_ALREADY_EXISTS), so an orphaned location is removed. */
    def table(prefix: String): String = {
      val t = prefix + key
      if (!spark.catalog.tableExists(t)) {
        val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
        deleteTree(new java.io.File(wh, t))
      }
      tables.add(t)
      t
    }

    private[CorpusScope] def live(caller: SparkSession): Boolean =
      dir.isDirectory && tables.stream().allMatch(t => caller.catalog.tableExists(t))

    /** Delete the files, and the tables through the building session while
      * it is still active. Never throws. */
    private[CorpusScope] def release(): Unit = {
      if (!spark.sparkContext.isStopped) tables.forEach { t =>
        try spark.sql(s"DROP TABLE IF EXISTS $t")
        catch { case scala.util.control.NonFatal(_) => () }
      }
      deleteTree(dir)
    }
  }

  private def deleteTree(f: java.io.File): Unit =
    try { if (f.exists()) new scala.reflect.io.Directory(f).deleteRecursively() }
    catch { case scala.util.control.NonFatal(_) => () }

  /** Parent of every persisted artifact's directory, made on first build
    * and removed on JVM exit. */
  private[graft] lazy val root: java.io.File = Util.processTempRoot("graft_scope_")

  /** Get-or-build a write-once on-disk artifact derived from the tables
    * `inputs` of the corpus at `dir`. The key hashes the family with the
    * inputs' content stamps ([[Util.dirContentKey]]), so a corpus
    * rewritten in place gets a new artifact in a new directory; `build`
    * writes only under the directory and tables its [[Artifact]] hands
    * out. A hit re-checks that the
    * directory and tables still exist (a later SparkContext has a fresh
    * catalog) and rebuilds when they do not. */
  def persisted[T <: AnyRef](family: String, spark: SparkSession, dir: String,
      inputs: String*)(build: Artifact => T): T = {
    val stamp = inputs.map(t => Util.dirContentKey(dir, s"$t.parquet"))
      .mkString(family + "|", "|", "")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(stamp.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    while (true) {
      val a = cached(family, key) {
        val d = new java.io.File(root, key)
        deleteTree(d) // an evicted or stale build of the same key
        d.mkdirs()
        val art = new Artifact(key, d, spark)
        art.value = build(art)
        art
      }
      if (a.live(spark)) return a.value.asInstanceOf[T]
      val fam = families.get(family)
      fam.map.synchronized(fam.map.remove(key, a))
    }
    throw new IllegalStateException("unreachable")
  }

  /** Drop every entry of one family (or all families with no argument) —
    * the explicit-release half of the contract for long-lived JVMs that
    * retire a corpus deliberately rather than waiting for LRU. Persisted
    * artifacts lose their files and tables. */
  def drop(family: String): Unit = {
    val fam = families.get(family)
    if (fam != null) clear(fam)
  }

  def dropAll(): Unit = families.forEach((_, fam) => clear(fam))

  private def clear(fam: Family): Unit = {
    val held = fam.map.synchronized {
      val vs = new java.util.ArrayList[AnyRef](fam.map.values())
      fam.map.clear()
      vs
    }
    fam.locks.clear()
    held.forEach {
      case a: Artifact => a.release()
      case _ => ()
    }
  }

  /** `family=current/peak` per family, sorted — the SOAK receipt. */
  def statsString: String = {
    val own = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    families.forEach((name, fam) =>
      own += ((name, fam.map.synchronized(fam.map.size), fam.peak)))
    own.sortBy(_._1).map { case (n, cur, pk) => s"$n=$cur/$pk" }.mkString(" ")
  }
}
