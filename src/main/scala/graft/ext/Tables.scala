package graft.ext

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet table reader: every `read.parquet` in graft goes
  * through [[Tables.parquet]] (pinned by TablesSpec).
  *
  * `s.read.parquet(path)` infers the table's schema with a Spark job in
  * every session that reads it, so a fresh session per request pays one
  * job for every table it reads. The reader keeps the inferred `StructType` in a
  * JVM-wide map and hands it to `s.read.schema(st).parquet(path)`, which
  * starts no job, so only the first session to read a table infers it.
  *
  * Key: (path, file stamp, parquet conf).
  *  - The file stamp is (file, mtime, length) of every file under the
  *    path (the path itself for a single file), so a rewritten table —
  *    a new schema, a new file set — misses and is inferred again; the
  *    stale entries of that path are dropped then.
  *  - The parquet conf is the session's explicitly set `spark.sql.parquet.*`
  *    and `spark.sql.legacy.parquet.*` values: settings such as
  *    `nanosAsLong`, `inferTimestampNTZ.enabled` or `binaryAsString`
  *    change the inferred types, so sessions that differ in them never
  *    share a schema.
  * A path that cannot be listed is read uncached, so Spark reports the
  * error as it would without the reader.
  */
object Tables {
  private final case class Key(path: String, stamp: Seq[(String, Long, Long)], conf: Seq[(String, String)])

  private val schemas = new ConcurrentHashMap[Key, StructType]

  def parquet(s: SparkSession, path: String): DataFrame =
    stamp(s, path) match {
      case None => s.read.parquet(path)
      case Some(st) =>
        val key = Key(path, st, parquetConf(s))
        var schema = schemas.get(key)
        if (schema == null) {
          // not computeIfAbsent: inference is a Spark job, too long to hold
          // a map bin; a duplicate inference under a race is harmless
          schema = s.read.parquet(path).schema
          schemas.keySet.removeIf(k => k.path == path && k.stamp != st)
          schemas.put(key, schema)
        }
        s.read.schema(schema).parquet(path)
    }

  private def stamp(s: SparkSession, path: String): Option[Seq[(String, Long, Long)]] =
    try {
      val p = new Path(path)
      val it = p.getFileSystem(s.sparkContext.hadoopConfiguration).listFiles(p, true)
      val files = Seq.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val f = it.next()
        files += ((f.getPath.toString, f.getModificationTime, f.getLen))
      }
      Some(files.result().sorted)
    } catch { case _: java.io.IOException => None }

  private def parquetConf(s: SparkSession): Seq[(String, String)] =
    s.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }.toSeq.sorted
}
