package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.engine.{ScaleOps, Sinks}

object Setup {

  /** `BenchProtocol.prepTables` swallows every failure; ask each
    * memoized prep call for its layout and fail loudly unless the
    * layout is on disk (a prep that failed is retried here once). */
  def verifyPreparedLayouts(spark: SparkSession, sfDir: String): Unit = {
    def dataFiles(path: String): Boolean = {
      def walk(f: File): Boolean = Option(f.listFiles()).exists(_.exists { c =>
        if (c.isDirectory) walk(c)
        else !c.getName.startsWith(".") && !c.getName.startsWith("_") && c.length > 0
      })
      walk(new File(path))
    }
    val (small, big) = ScaleOps.ensureCompactionExec(spark, sfDir)
    Seq(
      "partitioned events" -> Sinks.ensurePartitionedEvents(spark, sfDir),
      "orc lineitem" -> Sinks.ensureOrcLineitem(spark, sfDir),
      "compaction small files" -> small,
      "compaction big files" -> big).foreach { case (what, path) =>
      if (!dataFiles(path))
        throw new IllegalStateException(s"table prep left no $what layout at $path")
    }
    val (li, ord) = ScaleOps.ensureBucketedJoinTables(spark, sfDir)
    Seq(li, ord).foreach { t =>
      if (!spark.catalog.tableExists(t))
        throw new IllegalStateException(s"table prep left no bucketed table $t")
    }
  }
}

/** Expected row count and multiset hash per key, recorded from the seed
  * code (`perfbench/expected/<sf>.json`, written by `--record`). */
final class Expected(values: Map[String, (Long, Long)]) {
  def check(key: String, d: ResultHash.Digest): Option[String] = values.get(key) match {
    case None => Some(s"no expected value recorded for $key")
    case Some((rows, _)) if rows != d.rows => Some(s"rows ${d.rows} != expected $rows")
    case Some((_, hash)) if hash != d.hash =>
      Some(f"hash ${d.hash}%016x != expected $hash%016x")
    case _ => None
  }
}

object Expected {
  def load(path: java.nio.file.Path): Expected = {
    if (!java.nio.file.Files.exists(path)) return new Expected(Map.empty)
    import scala.jdk.CollectionConverters._
    val keys = Util.readJson(path).get("keys")
    new Expected(keys.fieldNames.asScala.map { k =>
      val v = keys.get(k)
      k -> (v.get("rows").asLong, java.lang.Long.parseUnsignedLong(v.get("hash").asText, 16))
    }.toMap)
  }
}
