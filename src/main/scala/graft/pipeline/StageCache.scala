package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import graft.streaming.ForkFreeLocalFileSystem

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
  * A miss writes the checkpoint and records its schema in a sidecar
  * `_graft_schema.json` inside the checkpoint — written to a temp file
  * and moved into place atomically; Spark's file index skips `_` files,
  * so the sidecar is never read as data. An unpartitioned stage records
  * the computed frame's schema made nullable, which is what the parquet
  * writer stores and a read infers, so the miss runs no footer job. A
  * partitioned stage reads the checkpoint back (one footer job) and
  * records the inferred schema, because partition columns come back
  * retyped and moved last. Both paths return the frame a hit returns.
  * A hit needs both `_SUCCESS` and the sidecar and reads with the
  * recorded schema, so it runs no Spark job: like `targets`, an
  * up-to-date stage is served from its metadata without touching its
  * data. A hit therefore equals a fresh inferred read. A checkpoint
  * without the sidecar is a miss and is rebuilt once.
  *
  * A miss writes with [[ForkFreeLocalFileSystem.confs]] as write
  * options, as `EventStreams.stageSlices` does: they reach only the
  * write job's Hadoop conf, and the session's default `file:`
  * FileSystem forks a `chmod` per file it creates.
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

  /** The checkpoint directory [[stage]] keys on these arguments. */
  def path(name: String, codeVersion: String, inputs: Seq[String],
      partitionCols: Seq[String] = Nil): String = {
    // the partition layout is part of the artifact's identity: a
    // layout change must rebuild, not serve the old directories
    val layout =
      if (partitionCols.isEmpty) ""
      else s"-p${partitionCols.mkString("_")}"
    s"$dir/$name-$codeVersion-${StageCache.fingerprint(inputs)}$layout"
  }

  def stage(name: String, codeVersion: String, inputs: Seq[String],
      partitionCols: Seq[String] = Nil)(
      compute: => DataFrame): DataFrame = {
    val path = this.path(name, codeVersion, inputs, partitionCols)
    val sidecar = Paths.get(path, StageCache.SchemaFile)
    val recorded =
      if (Files.exists(Paths.get(path, "_SUCCESS")) && Files.exists(sidecar))
        DataType.fromJson(Files.readString(sidecar)).asInstanceOf[StructType]
      else {
        computeCount += 1
        val df = compute
        val w = df.write.mode("overwrite")
          .options(ForkFreeLocalFileSystem.confs.toMap)
        val schema =
          if (partitionCols.isEmpty) {
            w.parquet(path)
            StageCache.nullable(df.schema).asInstanceOf[StructType]
          } else {
            w.partitionBy(partitionCols: _*).parquet(path)
            spark.read.parquet(path).schema
          }
        val tmp = Files.createTempFile(Paths.get(path), "_graft_schema", ".tmp")
        Files.writeString(tmp, schema.json)
        Files.move(tmp, sidecar, StandardCopyOption.ATOMIC_MOVE)
        schema
      }
    spark.read.schema(recorded).parquet(path)
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

  /** `t` with every field, array element and map value nullable — the
    * schema the parquet writer stores for a frame of type `t`.
    */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType),
        nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  /** Path + size + mtime fingerprint of a set of input files — the same
    * cheap staleness proxy `targets` uses. PUBLIC so cache keying that
    * lives outside a StageCache (e.g. q36's bucketed-table names) uses
    * this exact function instead of a drifting copy.
    */
  def fingerprint(inputs: Seq[String]): String = {
    val h = java.security.MessageDigest.getInstance("SHA-256")
    inputs.sorted.foreach { p =>
      h.update(p.getBytes("UTF-8"))
      // a local path, or a `file:` URI as a Hadoop listing gives it
      val path =
        if (p.startsWith("file:")) Paths.get(new HadoopPath(p).toUri)
        else Paths.get(p)
      if (Files.exists(path)) {
        h.update(Files.size(path).toString.getBytes)
        h.update(Files.getLastModifiedTime(path).toMillis.toString.getBytes)
      }
    }
    h.digest().take(8).map("%02x".format(_)).mkString
  }
}
