package graft.ops

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-corpus-snapshot materialization of derived tables: the expensive
  * curation signals and the kg oracle checkpoint (`KgOracleTables`).
  *
  * At 100 TB the near-dup cluster table (connected components over the
  * MinHash pair graph) is THE dominant curation job; a pipeline that
  * recomputes it per consumer (canonical selection, the fused curation
  * decision, ad-hoc analytics) doubles or triples the cluster bill. The
  * deployment shape is: run the cluster job once per corpus snapshot,
  * materialize the table, and have every consumer read it.
  *
  * Semantics here:
  *  - `materialize(name)` — the signal's OWN query entry calls this: it
  *    always recomputes and writes a new version (it IS the
  *    materialization job), so benchmarking the entry still measures the
  *    true compute cost.
  *  - `ensure(name)` — downstream consumers call this: read this JVM's
  *    current version if there is one; else materialize.
  *
  * Snapshots are scoped to the session: a version written by an earlier
  * JVM is never read, because nothing on disk records the build that
  * computed it, and serving its rows could pass off an older build's
  * output as this one's.
  *
  * Versioning + GC: every materialization writes a NEW versioned
  * directory (v1, v2, …, continuing past any version on disk) instead of
  * overwriting in place — a DataFrame returned earlier captured its
  * parquet file listing at read time, and deleting those files under it
  * would make any later evaluation of that (still valid) plan throw
  * FileNotFoundException. After writing vN, versions older than v(N-1)
  * are deleted: the previous version is kept for exactly that
  * held-DataFrame safety window, so disk usage is bounded at two versions
  * per snapshot regardless of how many materialize() calls a session
  * makes.
  */
object SnapshotCache {

  /** This JVM's current VERSION per snapshot base path. */
  private val versions = scala.collection.mutable.Map[String, Int]()

  private[graft] def baseFor(sfDir: String, name: String): String = {
    // key by basename + a digest of the FULL path: two corpora whose
    // directories share a final component (runA/sf0.1 vs runB/sf0.1)
    // must not silently serve each other's snapshots
    val base = new File(sfDir).getName
    new File(s"target/graft_snapshot/$base-${pathDigest(sfDir)}/$name").getAbsolutePath
  }

  private def pathDigest(sfDir: String): String = {
    val abs = new File(sfDir).getAbsolutePath
    java.security.MessageDigest.getInstance("MD5")
      .digest(abs.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
  }

  private def versionDirs(base: String): Vector[(Int, File)] = {
    val d = new File(base)
    if (!d.isDirectory) Vector.empty
    else d.listFiles().toVector.flatMap { f =>
      val n = f.getName
      if (f.isDirectory && n.matches("v\\d+")) Some((n.drop(1).toInt, f)) else None
    }.sortBy(_._1)
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Directory of this JVM's current version of the snapshot. Before this
    * JVM has written it, this names `v0`, which is never written, so a
    * reader of the path finds no files rather than an older session's.
    */
  def currentPath(sfDir: String, name: String): String = synchronized {
    val base = baseFor(sfDir, name)
    s"$base/v${versions.getOrElse(base, 0)}"
  }

  /** Recompute + write the snapshot (to a fresh version), return the
    * parquet-backed table. NOTE: the write job runs EAGERLY, at call
    * time — a query entry built on this is the materialization job, and
    * constructing its DataFrame executes it. Superseded versions older
    * than the immediately previous one are garbage-collected.
    */
  def materialize(spark: SparkSession, sfDir: String, name: String)(
      compute: => DataFrame): DataFrame = synchronized {
    val base = baseFor(sfDir, name)
    // next version continues past anything on disk, so a fresh JVM never
    // overwrites a version an earlier session's reader may still hold
    val onDisk = versionDirs(base)
    val v = math.max(versions.getOrElse(base, 0), onDisk.lastOption.map(_._1).getOrElse(0)) + 1
    val p = s"$base/v$v"
    compute.write.mode("overwrite").parquet(p)
    versions(base) = v
    // GC: keep vN and v(N-1); anything older has had a full
    // materialization cycle for held plans to drain
    versionDirs(base).filter(_._1 < v - 1).foreach { case (_, dir) =>
      deleteRecursively(dir)
    }
    spark.read.parquet(p)
  }

  /** This JVM's current version of the snapshot; else materialize. */
  def ensure(spark: SparkSession, sfDir: String, name: String)(
      compute: => DataFrame): DataFrame = synchronized {
    val base = baseFor(sfDir, name)
    versions.get(base) match {
      case Some(v) => spark.read.parquet(s"$base/v$v")
      case None => materialize(spark, sfDir, name)(compute)
    }
  }

  /** Test hook: forget this JVM's version of one snapshot (simulates a
    * fresh session against whatever is on disk), leaving the snapshots
    * other tests in this JVM rely on current.
    */
  private[graft] def resetForTest(sfDir: String, name: String): Unit = synchronized {
    versions -= baseFor(sfDir, name)
  }
}
