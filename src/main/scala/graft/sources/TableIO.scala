package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Storage seam (SURVEY.md §7): algorithm code never names a format. In
  * production the implementation is the Iceberg catalog (`format("iceberg")`
  * with snapshot isolation); this sandbox has no Iceberg runtime jar, so the
  * shipped implementation is an Iceberg-shaped parquet layout — one directory
  * per table, an append-only `_manifest.jsonl` of committed snapshots, and a
  * commit marker written last so torn writes are invisible. Identical table
  * schemas either way: the Iceberg swap is configuration, not code.
  */
trait TableIO {
  /** Write data files and the table's schema without committing (invisible
    * to readers-of-committed). */
  def writeData(df: DataFrame, table: String): Unit
  /** Publish a previously written table (marker + manifest append — last). */
  def commit(table: String): Unit
  final def write(df: DataFrame, table: String): Unit = { writeData(df, table); commit(table) }
  /** Starts `table` over with `schema` and returns the writer that tasks
    * write its data files through, one per partition — so a job that
    * computes rows can also store them. Nothing is visible until [[commit]]. */
  def partitionWriter(spark: SparkSession, table: String, schema: StructType): TableIO.PartitionWriter
  /** Reads a table with the schema recorded at write time, or with an
    * inferred one when none was recorded. */
  def read(spark: SparkSession, table: String): DataFrame
  def exists(table: String): Boolean
  /** Committed snapshot names under a table prefix (e.g. iteration dirs). */
  def snapshots(prefix: String): Seq[String]
}

object TableIO {
  /** Opens a table's data file for one partition, inside the task that
    * writes it; a retried task writes the same file again. */
  abstract class PartitionWriter extends Serializable {
    def open(partition: Int): OutputWriter
  }
}

final class ParquetDirTableIO(root: String) extends TableIO {

  private def dir(table: String) = s"$root/$table"

  /** The table's schema as JSON; the leading underscore keeps it out of the
    * data files a parquet read lists. Reading with it skips parquet's
    * schema-inference job (a footer read per table). */
  private def schemaFile(table: String) = Paths.get(dir(table), "_schema.json")

  override def writeData(df: DataFrame, table: String): Unit = {
    df.write.mode("overwrite").parquet(dir(table))
    Files.write(schemaFile(table), df.schema.json.getBytes(StandardCharsets.UTF_8))
  }

  override def partitionWriter(spark: SparkSession, table: String,
      schema: StructType): TableIO.PartitionWriter = {
    val d = Paths.get(dir(table))
    if (Files.exists(d)) {
      val s = Files.walk(d)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]()).forEach(Files.delete(_))
      finally s.close()
    }
    Files.createDirectories(d)
    Files.write(schemaFile(table), schema.json.getBytes(StandardCharsets.UTF_8))
    val job = Job.getInstance(spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new ParquetDirTableIO.Writer(dir(table), schema, factory,
      new SerializableConfiguration(job.getConfiguration))
  }

  override def commit(table: String): Unit = {
    val manifest = Paths.get(root, "_manifest.jsonl")
    Files.createDirectories(manifest.getParent)
    Files.write(manifest, s"""{"table":"$table"}\n""".getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    Files.write(Paths.get(dir(table), "_COMMITTED"), Array.emptyByteArray)
  }

  override def read(spark: SparkSession, table: String): DataFrame = {
    val f = schemaFile(table)
    if (!Files.exists(f)) spark.read.parquet(dir(table))
    else spark.read
      .schema(DataType.fromJson(new String(Files.readAllBytes(f), StandardCharsets.UTF_8))
        .asInstanceOf[StructType])
      .parquet(dir(table))
  }

  override def exists(table: String): Boolean =
    Files.exists(Paths.get(dir(table), "_COMMITTED"))

  override def snapshots(prefix: String): Seq[String] = {
    val p = Paths.get(root, prefix)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val it = Files.list(p).iterator()
      val out = Seq.newBuilder[String]
      while (it.hasNext) {
        val c = it.next()
        if (Files.exists(c.resolve("_COMMITTED")))
          out += s"$prefix/${c.getFileName.toString}"
      }
      out.result().sorted
    }
  }
}

object ParquetDirTableIO {
  /** Writes partition p's rows to `part-<p>` in the table's directory, as a
    * parquet write of the same schema would. */
  private final class Writer(dir: String, schema: StructType, factory: OutputWriterFactory,
      conf: SerializableConfiguration) extends TableIO.PartitionWriter {
    def open(partition: Int): OutputWriter = {
      val ctx = new TaskAttemptContextImpl(conf.value,
        new TaskAttemptID("graft", 0, TaskType.MAP, partition, 0))
      val file = new Path(dir, f"part-$partition%05d${factory.getFileExtension(ctx)}")
      file.getFileSystem(conf.value).delete(file, false)
      factory.newInstance(file.toString, schema, ctx)
    }
  }
}
