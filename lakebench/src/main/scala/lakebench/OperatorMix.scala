package lakebench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.StateStoreHygiene

import graft.SparkEntry

/** operator_mix: a fixed list of registered operators, one `.count()`
  * each, with caches and state stores cleared between queries outside
  * the timed call, as graft.Bench does. The warm-up pass writes every
  * query's full result instead, for the DuckDB oracle check; the
  * counts of later passes must match it. */
object OperatorMix {
  def run(spark: SparkSession, rec: Recorder, spec: JsonNode,
      seconds: Double): Map[String, Any] = {
    val data = Main.text(spec, "data")
    val names = Main.texts(spec, "queries")
    val registry = SparkEntry.queries
    def reset(): Unit = {
      spark.catalog.clearCache()
      StateStoreHygiene.unloadAll()
    }
    val out = s"${Main.text(spec, "work")}/results"
    rec.loop(seconds) { i =>
      names.foreach { name =>
        if (i == 0)
          rec.call("queries", name, "read")(registry(name)(spark, data)
            .coalesce(1).write.mode("overwrite").parquet(s"$out/$name"))
        else
          rec.call("queries", name, "read")(registry(name)(spark, data).count())
            .foreach(n => rec.observe("rows" -> n))
        reset()
      }
    }
    Map("results" -> out,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) })
  }
}
