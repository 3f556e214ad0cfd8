package graft

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession

/** The measurement core of the bench and verify mains: the one rule for a
  * session's core count, the one timed noop-sink write, and the one JSON
  * writer for their artifacts.
  */
object Measure {

  /** Cores of a `local[n]` session: `SPARK_GRAFT_CPUS` when it is set,
    * otherwise every processor the JVM sees.
    */
  def cpus(env: collection.Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session a main runs on: [[GraftSession.local]] on [[cpus]] cores. */
  def session(): SparkSession = GraftSession.local(cpus())

  /** Seconds to build `df` and write all of it to the noop sink. The noop
    * sink, not count(): count() lets Catalyst prune unreferenced
    * expressions, so projection- and window-shaped queries would degrade
    * to parquet count-stars and measure nothing; the noop sink consumes
    * every row and column while writing no bytes. `df` is by name, so the
    * time includes building the frame and any eager jobs the build runs.
    */
  def noop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  /** `value` as one line of JSON. Maps are written in iteration order, so
    * artifacts pass `ListMap`s to fix their key order.
    */
  def json(value: Any): String = mapper.writeValueAsString(value)

  /** `v` rounded half-up to `places` decimals, which [[json]] prints as
    * exactly that many digits (seconds: 3); `null` when `v` is not finite.
    */
  def fixed(v: Double, places: Int = 3): JBigDecimal =
    if (v.isNaN || v.isInfinite) null
    else JBigDecimal.valueOf(v).setScale(places, RoundingMode.HALF_UP)
}
