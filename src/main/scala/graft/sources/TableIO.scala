package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

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
  /** Reads a table with the schema recorded at write time, or with an
    * inferred one when none was recorded. */
  def read(spark: SparkSession, table: String): DataFrame
  def exists(table: String): Boolean
  /** Committed snapshot names under a table prefix (e.g. iteration dirs). */
  def snapshots(prefix: String): Seq[String]
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
