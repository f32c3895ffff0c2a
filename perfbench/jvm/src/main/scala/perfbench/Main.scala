package perfbench

import java.nio.file.{Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{BenchProtocol, SparkEntry}

/** Everything a workload run needs. */
final case class Ctx(spark: SparkSession, workload: String, seed: Long,
                     seconds: Int, trace: Boolean, sfDir: String, cores: Int,
                     expected: Expected, tracePath: Path, t0: Long,
                     checkPrep: Boolean, perLayer: Seq[(String, String)]) {
  def setupSeconds(): Double = (System.nanoTime() - t0) / 1e9
}

/** Entry point of one benchmark run (see `perfbench/run.py`, which
  * builds the program and launches this). Arguments:
  * `--workload W --seed N --seconds S --trace 0|1 --bench-dir D
  *  --fixtures F --sf SF --spec BENCHMARK.json --result FILE --spans FILE
  *  [--check-prep 1]`,
  * or `--record FILE` to write the expected outputs of every key at
  * `--sf`. `--check-prep 1` also runs `BenchProtocol.prepTables` and
  * checks the layouts it must leave. */
object Main {

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = Paths.get(args("bench-dir"))
    val sf = args("sf")
    val sfDir = Paths.get(args("fixtures"), sf).toString
    require(new java.io.File(sfDir, "lineitem.parquet").exists,
      s"fixture tables not found under $sfDir")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = BenchProtocol.session(cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val sessionS = (System.nanoTime() - t0) / 1e9
      warmEngine(spark, sfDir)
      Util.log(f"session $sessionS%.1f s, engine warm-up ${(System.nanoTime() - t0) / 1e9 - sessionS}%.1f s")
      args.get("record") match {
        case Some(out) => Record.run(spark, sfDir, sf, Paths.get(out))
        case None =>
          val workload = args("workload")
          val ctx = Ctx(spark, workload, args("seed").toLong, args("seconds").toInt,
            args("trace") == "1", sfDir, cores,
            Expected.load(benchDir.resolve(s"expected/$sf.json")),
            Paths.get(args("spans")), t0, args.get("check-prep").contains("1"),
            Util.readJson(Paths.get(args("spec"))).get("per_layer").elements.asScala
              .map(m => m.get("name").asText -> m.get("unit").asText).toSeq)
          val classes = Util.readJson(benchDir.resolve("classes.json"))
          val floor = classes.get("floor")
          val outcome = workload match {
            case "batch_floor" => BatchWorkload.run(ctx,
              classes.get("floor_sample").elements.asScala.map(_.asText).toSeq,
              floor.fieldNames.asScala.map(k => k -> floor.get(k).asDouble).toMap)
            case "serve_neardup" => ServeWorkload.run(ctx)
            case other => throw new IllegalArgumentException(s"unknown workload $other")
          }
          Util.writeFile(Paths.get(args("result")), outcome.json + "\n")
      }
    } finally spark.stop()
  }

  /** The session's one-time initialization (codegen compiler, shuffle
    * machinery, parquet reader pools), as `Bench` does it. */
  def warmEngine(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/region.parquet").count()
    val a = spark.range(1000).toDF("id").withColumn("g", col("id") % 7)
    a.groupBy("g").count().count()
    a.join(broadcast(spark.range(10).toDF("g")), "g").count()
    a.repartition(2, col("g")).sortWithinPartitions("id").count()
    ()
  }
}

/** Writes the expected output of every key (or of the keys matching
  * `SPARK_GRAFT_ONLY`, merged into an existing file): two passes in one
  * session; a key whose digest differs between them, or that fails, is
  * reported and not recorded. */
object Record {
  def run(spark: SparkSession, sfDir: String, sf: String, out: Path): Unit = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val keys = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.findFirstIn(k).isDefined) }
    def pass(): Map[String, Either[String, ResultHash.Digest]] = keys.map { case (k, fn) =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      val t0 = System.nanoTime()
      val r = try Right(ResultHash.consume(fn(spark, sfDir)))
              catch { case e: Throwable => Left(e.getClass.getName) }
      Util.log(f"$k ${(System.nanoTime() - t0) / 1e9}%.3f s")
      k -> r
    }.toMap
    val a = pass()
    val b = pass()
    val kept: Map[String, String] =
      if (only.isEmpty || !java.nio.file.Files.exists(out)) Map.empty
      else {
        val node = Util.readJson(out).get("keys")
        node.fieldNames.asScala.map { k =>
          k -> s"{\"rows\": ${node.get(k).get("rows").asLong}, \"hash\": \"${node.get(k).get("hash").asText}\"}"
        }.toMap
      }
    val recorded = keys.map(_._1).flatMap { k =>
      (a(k), b(k)) match {
        case (Right(x), Right(y)) if x == y =>
          Some(k -> s"{\"rows\": ${x.rows}, \"hash\": \"${f"${x.hash}%016x"}\"}")
        case (x, y) =>
          Util.log(s"NOT RECORDED $k: pass 1 $x, pass 2 $y")
          None
      }
    }.toMap
    val lines = (kept ++ recorded).toSeq.sortBy(_._1).map { case (k, v) => s"  ${Util.str(k)}: $v" }
    Util.writeFile(out, s"{\"sf\": ${Util.str(sf)}, \"keys\": {\n${lines.mkString(",\n")}\n}}\n")
    Util.log(s"recorded ${recorded.size} of ${keys.size} keys at $sf to $out (${lines.size} in the file)")
  }
}
