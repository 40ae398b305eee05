package lakebench

import java.io.File

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload of the lakehouse benchmark in this JVM.
  *
  * Usage: lakebench.Main <spec.json> <result.json>
  *
  * The spec (written by run.py) names the workload, the generated
  * inputs, the core count, the seconds to measure and whether the run
  * is traced. The result holds the set-up time, every pass and call
  * with its time and observed values, and, when traced, spans and Spark
  * counters; run.py checks the values and derives the metrics. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new File(args(0)))
    val work = spec.get("work").asText
    val cores = spec.get("cores").asInt
    val spark = graft.core.Sessions.local("lakebench", cores)
    warm(spark, s"$work/warm")
    // from the launch of this process, taken by run.py just before it
    val setup = (System.currentTimeMillis() - spec.get("launched_ms").asLong) / 1000.0
    val rec = new Recorder(spark, spec.get("trace").asBoolean,
      s"${spec.get("workload").asText}-${spec.get("seed").asLong}", new File(work),
      spec.get("deadline_ms").asLong)
    val seconds = spec.get("seconds").asDouble
    val extra = spec.get("workload").asText match {
      case "medallion_etl" => Medallion.run(spark, rec, spec, seconds)
      case "operator_mix" => OperatorMix.run(spark, rec, spec, seconds)
      case other => sys.error(s"unknown workload $other")
    }
    val result = rec.result ++ Map("setup_s" -> setup, "extra" -> extra)
    mapper.writeValue(new File(args(1)), result)
    spark.stop()
  }

  /** One small aggregate and one parquet round trip, so the first
    * measured call does not pay for class loading and codegen set-up. */
  private def warm(spark: SparkSession, dir: String): Unit = {
    spark.range(200000).selectExpr("sum(id)", "count(distinct id % 97)").collect()
    spark.range(1000).selectExpr("id", "cast(id as string) s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).where("id > 10").count()
  }

  def text(n: JsonNode, key: String): String = n.get(key).asText
  def texts(n: JsonNode, key: String): Seq[String] = {
    val a = n.get(key)
    (0 until a.size).map(a.get(_).asText)
  }
}
