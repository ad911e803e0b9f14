package perfbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom

import graft.schemer.{HiveRender, WObj, Witness}

/** Checks of the benchmark's own code that need no Spark session. Prints
 *  the metric names and units the runner emits as one JSON object, for
 *  perfbench/tests to compare with BENCHMARK.json; exits 1 on a failed
 *  check.
 *
 *  `perfbench.SelfTest <scratch dir>` */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAILED: $what") }

  def main(args: Array[String]): Unit = {
    val scratch = args(0)

    // attribution: every query of the program belongs to exactly one module
    val listed = Suites.Modules.flatMap(_._2.map(_.name))
    check(listed.size == listed.distinct.size, "a query is listed by two modules")
    check(listed.toSet == graft.SparkEntry.queries.keySet,
      s"queries outside the modules: ${(graft.SparkEntry.queries.keySet -- listed).mkString(", ")}")
    // per-module sums equal the suite total, whatever the times
    val rnd = new SplittableRandom(7)
    val times = listed.map(_ -> rnd.nextDouble()).toMap
    val byModule = Suites.ModuleNames.map(m => times.filter(t => Suites.moduleOf(t._1) == m).values.sum)
    check(math.abs(byModule.sum - times.values.sum) < 1e-9, "module sums differ from the total")
    check(Suites.Sample.forall(Suites.moduleOf.contains), "a sampled query is in no module")

    // generators: one seed writes the same bytes; another seed, other bytes
    def corpus(name: String, seed: Long) = Gen.ndjson(s"$scratch/$name", seed, 2000, 4)
    val a = corpus("a", 1); val b = corpus("b", 1); val c = corpus("c", 2)
    def bytes(dir: String) = new File(dir).listFiles().sortBy(_.getName)
      .map(f => java.util.Arrays.hashCode(Files.readAllBytes(f.toPath))).toSeq
    check(bytes(a.dir) == bytes(b.dir), "one seed wrote two different corpora")
    check(bytes(a.dir) != bytes(c.dir), "two seeds wrote the same corpus")
    val g1 = Gen.grouped(s"$scratch/g1", 3, 3000, 50, 2)
    val g2 = Gen.grouped(s"$scratch/g2", 3, 3000, 50, 2)
    check(bytes(g1.dir) == bytes(g2.dir), "one seed wrote two different grouped tables")

    // the expected-schema record agrees with the witness engine's DDL
    val lines = Workloads.headLines(a.dir, Int.MaxValue)
    val w = lines.foldLeft(WObj.empty: Witness)((acc, l) => Witness.merge(acc, Witness.ofJson(l)))
    check(Ddl.diff(a.expected.columns, Ddl.tableColumns(HiveRender.table(w, "t", "f"))).isEmpty,
      s"record and DDL differ: ${Ddl.diff(a.expected.columns, Ddl.tableColumns(HiveRender.table(w, "t", "f")))}")
    for ((e, t) <- g1.expected.zipWithIndex if e.fields.nonEmpty) {
      val docs = Workloads.headLines(g1.dir, Int.MaxValue).filter(_.startsWith(s"$t\t")).map(_.dropWhile(_ != '\t').tail)
      val wt = docs.foldLeft(WObj.empty: Witness)((acc, d) => Witness.merge(acc, Witness.ofJson(d)))
      check(Ddl.diff(e.columns, Ddl.definition(HiveRender.definition(wt))).isEmpty, s"tenant $t: record and DDL differ")
    }
    // and a wrong type is caught
    check(Ddl.diff(Map("x" -> "TINYINT"), Ddl.definition("x SMALLINT")).nonEmpty, "a type change went unseen")

    def names(ms: Seq[(String, String)]) =
      ms.map { case (n, u) => s"""["$n", "$u"]""" }.mkString("[", ", ", "]")
    println(s"""{"end_to_end": ${names(Metrics.EndToEnd)}, "per_layer": ${names(Metrics.PerLayer)}}""")
    if (failures > 0) sys.exit(1)
  }
}
