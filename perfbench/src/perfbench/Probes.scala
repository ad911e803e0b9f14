package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import graft.schemer.{HiveRender, WObj, Witness, WitnessCodec}
import org.apache.spark.sql.SparkSession

/** Single-threaded timings of the witness engine's layers, on a fixed
 *  in-memory sample, and the fixed-work host probe. */
object Probes {

  /** Configured as `Witness.ofJson` configures its parser. */
  private val mapper =
    new ObjectMapper().configure(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS, true)

  private def perItemUs(n: Int, reps: Int)(body: => Unit): Double =
    Stats.median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e3 / n
    })

  final case class Fold(parseUs: Double, buildUs: Double, mergeUs: Double)

  /** Per-row cost of parse (`readTree`), build (`Witness.ofNode`) and merge
   *  (`Witness.merge` into the running accumulator), each timed over the
   *  whole sample on inputs the previous layer produced. */
  def fold(lines: IndexedSeq[String], reps: Int = 3): Fold = {
    val n = lines.size
    val trees = new Array[JsonNode](n)
    val ws = new Array[Witness](n)
    val parse = perItemUs(n, reps) { var i = 0; while (i < n) { trees(i) = mapper.readTree(lines(i)); i += 1 } }
    val build = perItemUs(n, reps) { var i = 0; while (i < n) { ws(i) = Witness.ofNode(trees(i)); i += 1 } }
    val merge = perItemUs(n, reps) {
      var acc: Witness = WObj.empty
      var i = 0
      while (i < n) { acc = Witness.merge(acc, ws(i)); i += 1 }
    }
    Fold(parse, build, merge)
  }

  def renderMs(w: Witness, reps: Int = 50): Double =
    perItemUs(1, reps)(HiveRender.table(w, "bench", "corpus")) / 1e3

  /** Per-witness `WitnessCodec.write` and `read` cost, in µs. */
  def codec(ws: IndexedSeq[Witness], reps: Int = 5): (Double, Double) = {
    val n = ws.size
    val bytes = new Array[Array[Byte]](n)
    val write = perItemUs(n, reps) { var i = 0; while (i < n) { bytes(i) = WitnessCodec.write(ws(i)); i += 1 } }
    val read = perItemUs(n, reps) { var i = 0; while (i < n) { WitnessCodec.read(bytes(i)); i += 1 } }
    (write, read)
  }

  /** The reference job: fixed CPU and shuffle work in plain Spark, none of
   *  the program's code, as `graft.Bench`'s calibration probe does at a
   *  fifth of its size. Its wall time in seconds, after a full collection
   *  so that earlier garbage is not collected inside it. */
  def host(spark: SparkSession): Double = {
    System.gc()
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, 4)
      .selectExpr("id % 100000 AS k", "xxhash64(id) AS h")
      .groupBy("k").sum("h").selectExpr("count(*)").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
