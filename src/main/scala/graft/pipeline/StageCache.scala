package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Targets-style cross-run memoization (SURVEY §4: the reference's
  * signature execution feature — content-hash skip in `_targets/meta`).
  *
  * A stage is keyed by (name, codeVersion, input fingerprint). The
  * fingerprint hashes input file paths + size + mtime — the same cheap
  * proxy `targets` uses before falling back to content hashes. On hit,
  * the stage's Parquet checkpoint is read back; on miss, `compute` runs
  * and is checkpointed. Checkpoints double as shuffle-barrier lineage
  * cuts for long pipelines (at 100 TB a checkpoint is also what makes
  * retry-from-midpoint possible).
  *
  * A miss writes the checkpoint, reads it back (parquet schema
  * inference, one footer job) and records that read's schema in a
  * sidecar `_graft_schema.json` inside the checkpoint — written to a
  * temp file and moved into place atomically; Spark's file index skips
  * `_` files, so the sidecar is never read as data. A hit needs both
  * `_SUCCESS` and the sidecar and reads with the recorded schema, so
  * it runs no Spark job: like `targets`, an up-to-date stage is served
  * from its metadata without touching its data. The recorded schema
  * is the inferred one, partition columns' types and positions
  * included, so a hit equals a fresh inferred read. A checkpoint
  * without the sidecar is a miss and is rebuilt once.
  */
class StageCache(spark: SparkSession, dir: String) {

  @volatile var computeCount: Int = 0 // observable for tests

  /** Canonical SHA-256 of a config's key parts — callers pass an
    * explicit, ordered serialization (NOT case-class toString, whose
    * formatting and Map iteration order are unstable across versions
    * and could alias distinct configs via 32-bit hashCode collisions).
    */
  def versionHash(parts: Seq[String]): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => h.update(p.getBytes("UTF-8")); h.update(0.toByte) }
    h.digest().take(8).map("%02x".format(_)).mkString
  }

  def stage(name: String, codeVersion: String, inputs: Seq[String],
      partitionCols: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    // the partition layout is part of the artifact's identity: a
    // layout change must rebuild, not serve the old directories
    val layout =
      if (partitionCols.isEmpty) ""
      else s"-p${partitionCols.mkString("_")}"
    val key =
      s"$name-$codeVersion-${StageCache.fingerprint(inputs)}$layout"
    val path = s"$dir/$key"
    val sidecar = Paths.get(path, StageCache.SchemaFile)
    if (Files.exists(Paths.get(path, "_SUCCESS")) && Files.exists(sidecar)) {
      val recorded = DataType.fromJson(Files.readString(sidecar))
        .asInstanceOf[StructType]
      spark.read.schema(recorded).parquet(path)
    } else {
      computeCount += 1
      val df = compute
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*)
       else w).parquet(path)
      val written = spark.read.parquet(path)
      val tmp = Files.createTempFile(Paths.get(path), "_graft_schema", ".tmp")
      Files.writeString(tmp, written.schema.json)
      Files.move(tmp, sidecar, StandardCopyOption.ATOMIC_MOVE)
      written
    }
  }
}

object StageCache {

  /** The checkpoint's recorded schema (see the class doc). */
  val SchemaFile = "_graft_schema.json"

  /** Shared root for every persisted index/stage artifact (band index,
    * IVF+PQ model+codes, z-ordered layout). Override with
    * SPARK_GRAFT_INDEX_DIR; defaults under the JVM temp dir so the repo
    * tree stays clean. On a cluster this is a shared-filesystem path —
    * the artifacts are plain parquet. Single definition: TextOps /
    * VectorOps / GeoOps all key off this one.
    */
  def indexRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-band-index")

  /** Path + size + mtime fingerprint of a set of input files — the same
    * cheap staleness proxy `targets` uses. PUBLIC so cache keying that
    * lives outside a StageCache (e.g. q36's bucketed-table names) uses
    * this exact function instead of a drifting copy.
    */
  def fingerprint(inputs: Seq[String]): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    inputs.sorted.foreach { p =>
      h.update(p.getBytes("UTF-8"))
      val path = Paths.get(p)
      if (Files.exists(path)) {
        h.update(Files.size(path).toString.getBytes)
        h.update(Files.getLastModifiedTime(path).toMillis.toString.getBytes)
      }
    }
    h.digest().take(8).map("%02x".format(_)).mkString
  }
}
