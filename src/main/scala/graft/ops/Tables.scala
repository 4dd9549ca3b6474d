package graft.ops

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver's testdata layout
  * (`<dir>/<name>.parquet`). Centralized so a different catalog (e.g. a
  * real Iceberg catalog, absent in this sandbox — see SURVEY.md §2.8) can
  * be slotted in behind one function.
  *
  * Schema memo: `spark.read.parquet` infers the schema on every read, and
  * the inference is a Spark job even for one file (Spark merges footers
  * in parallel regardless of the file count). [[tbl]] (and [[read]], its
  * form for any table path, e.g. a `CorpusStore` directory) infers a table's
  * schema once, with that same public reader, and hands it to later reads
  * as `spark.read.schema(s).parquet(path)`, which start no job.
  *
  *  - Key: the qualified path plus the session's confs that change
  *    inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *    `spark.sql.caseSensitive`, as set in the session).
  *  - Entry: the schema plus the file identity it was inferred from,
  *    every leaf file's (path, length, modification time), sorted.
  *  - Stale entries: a read whose leaf files differ in any of the three
  *    (a rewritten, appended or truncated table) infers again and
  *    replaces the entry; one entry per key, so memory stays one schema
  *    per table and conf set.
  *  - A path that does not exist (or a glob) is not memoized: the plain
  *    reader raises (or expands) it at the same call, as before.
  */
object Tables {
  def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** the Parquet table at `path` (a file or a directory), its schema
    * memoized as for [[tbl]]
    */
  def read(spark: SparkSession, path: String): DataFrame =
    leafFiles(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((qualified, files)) =>
        val key = (qualified, inferenceConfs(spark))
        val hit = schemas.get(key)
        val schema =
          if (hit != null && hit._1 == files) hit._2
          else {
            val s = spark.read.parquet(path).schema
            schemas.put(key, (files, s))
            s
          }
        spark.read.schema(schema).parquet(path)
    }

  private type FileId = (String, Long, Long)

  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String]), (Vector[FileId], StructType)]()

  private def inferenceConfs(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.caseSensitive"
    }

  /** (qualified path, its leaf files sorted by path), or None when the
    * path does not exist as written
    */
  private def leafFiles(spark: SparkSession, path: String): Option[(String, Vector[FileId])] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val q = fs.makeQualified(p)
    if (!fs.exists(q)) None
    else {
      val it = fs.listFiles(q, true)
      val files = Vector.newBuilder[FileId]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getLen, f.getModificationTime))
      }
      Some((q.toString, files.result().sortBy(_._1)))
    }
  }
}
