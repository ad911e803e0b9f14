package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.math.{BigDecimal => JBigDecimal}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import scala.collection.mutable

/** Expected schema of one JSON node, accumulated while the generator writes
 *  the value. It holds exactly what the rendered Hive type depends on: the
 *  kind, the longest string, and the numeric min, max and largest scale. */
sealed trait Expect {
  /** Canonical Hive type: the renderer's buckets, struct fields sorted by
   *  name so that first-seen column order does not matter. */
  def canonical: String
  /** Folds in the record another generator thread kept for the same node. */
  def merge(o: Expect): Unit
}

final class ENum extends Expect {
  private var min: JBigDecimal = null
  private var max: JBigDecimal = null
  private var scale = 0
  def add(literal: String): Unit = add(new JBigDecimal(literal))
  private def add(d: JBigDecimal): Unit = {
    if (min == null || d.compareTo(min) < 0) min = d
    if (max == null || d.compareTo(max) > 0) max = d
    scale = math.max(scale, d.scale)
  }
  def merge(o: Expect): Unit = {
    val n = o.asInstanceOf[ENum]
    if (n.min != null) { add(n.min); add(n.max); scale = math.max(scale, n.scale) }
  }
  def canonical: String = {
    def widen(x: JBigDecimal) = if (x.scale >= scale) x else x.setScale(scale)
    val (mn, mx) = (widen(min), widen(max))
    def fits(lo: Long, hi: Long) =
      mn.compareTo(JBigDecimal.valueOf(lo)) >= 0 && mx.compareTo(JBigDecimal.valueOf(hi)) <= 0
    val precision = math.max(mn.precision, mx.precision)
    if (scale == 0) {
      if (fits(Byte.MinValue, Byte.MaxValue)) "TINYINT"
      else if (fits(Short.MinValue, Short.MaxValue)) "SMALLINT"
      else if (fits(Int.MinValue, Int.MaxValue)) "INT"
      else if (fits(Long.MinValue, Long.MaxValue)) "BIGINT"
      else s"NUMERIC($precision, 0)"
    } else if (precision <= 7) "FLOAT"
    else if (precision <= 15) "DOUBLE"
    else s"NUMERIC($precision, $scale)"
  }
}

final class EStr extends Expect {
  private var maxLen = 0
  def add(s: String): Unit = maxLen = math.max(maxLen, s.length)
  def merge(o: Expect): Unit = maxLen = math.max(maxLen, o.asInstanceOf[EStr].maxLen)
  def canonical: String = if (maxLen > 0 && maxLen < 65356) s"VARCHAR($maxLen)" else "STRING"
}

object EBool extends Expect {
  def canonical = "BOOLEAN"
  def merge(o: Expect): Unit = require(o eq EBool)
}

final class EArr(val elem: Expect) extends Expect {
  def canonical: String = s"ARRAY<${elem.canonical}>"
  def merge(o: Expect): Unit = elem.merge(o.asInstanceOf[EArr].elem)
}

final class EObj extends Expect {
  val fields = mutable.HashMap.empty[String, Expect]
  def field[E <: Expect](key: String, make: => E): E = fields.getOrElseUpdate(key, make).asInstanceOf[E]
  def merge(o: Expect): Unit = o.asInstanceOf[EObj].fields.foreach { case (k, e) =>
    fields.get(k) match {
      case Some(mine) => mine.merge(e)
      case None => fields(k) = e
    }
  }
  def columns: Map[String, String] = fields.iterator.map { case (k, e) => k -> e.canonical }.toMap
  def canonical: String =
    fields.toSeq.sortBy(_._1).map { case (k, e) => s"$k:${e.canonical}" }.mkString("STRUCT<", ",", ">")
}

/** Parses rendered Hive DDL back into canonical column types, the form the
 *  [[Expect]] records produce, so a run checks every column the program
 *  printed against the record its generator kept. */
object Ddl {

  /** Columns of a `CREATE TABLE` script ([[graft.schemer.SchemaGen.hiveScript]]). */
  def tableColumns(script: String): Map[String, String] = {
    val lines = script.split("\n")
    val start = lines.indexWhere(_.startsWith("CREATE TABLE "))
    val end = lines.indexWhere(_.startsWith(") ROW FORMAT SERDE"))
    require(start >= 0 && end > start, s"not a Hive table script: ${script.take(80)}")
    definition(lines.slice(start + 1, end).mkString("\n"))
  }

  /** Columns of a definition block (`infer_column_defs`). */
  def definition(block: String): Map[String, String] = {
    val it = block.split("\n").iterator.map(clean).filter(_.nonEmpty)
    val cols = mutable.LinkedHashMap.empty[String, String]
    while (it.hasNext) {
      val (k, t) = keyed(it.next())
      require(!cols.contains(k), s"duplicate column $k")
      cols(k) = tpe(t, it)
    }
    cols.toMap
  }

  private def clean(line: String): String = {
    val s = line.dropWhile(_ == '\t')
    if (s.endsWith(",")) s.dropRight(1) else s
  }

  private def keyed(line: String): (String, String) = {
    val sp = line.indexOf(' ')
    require(sp > 0, s"no type on line: $line")
    (line.substring(0, sp), line.substring(sp + 1))
  }

  private def tpe(first: String, it: Iterator[String]): String = first match {
    case "ARRAY<" =>
      val elem = tpe(it.next(), it)
      require(it.next() == ">", "unclosed ARRAY")
      s"ARRAY<$elem>"
    case "STRUCT<" =>
      val fs = mutable.ArrayBuffer.empty[(String, String)]
      var line = it.next()
      while (line != ">") {
        val (k, t) = keyed(line)
        require(k.endsWith(":"), s"struct field without colon: $line")
        fs += (k.dropRight(1) -> tpe(t, it))
        line = it.next()
      }
      fs.sortBy(_._1).map { case (k, t) => s"$k:$t" }.mkString("STRUCT<", ",", ">")
    case leaf => leaf
  }

  /** First difference between two column maps, or None when they agree. */
  def diff(expected: Map[String, String], got: Map[String, String]): Option[String] =
    (expected.keySet ++ got.keySet).toSeq.sorted.collectFirst {
      case k if expected.get(k) != got.get(k) =>
        s"column $k: expected ${expected.getOrElse(k, "<absent>")}, got ${got.getOrElse(k, "<absent>")}"
    }
}

/** Seeded corpus generators. All content derives from the seed, the file
 *  index and the row index, so one seed always writes the same bytes. */
object Gen {

  final case class NdjsonCorpus(dir: String, rows: Long, files: Int, bytes: Long, expected: EObj)

  /** Shape of the `infer_ndjson` rows: the nested fields of
   *  `graft.InferCorpusGen` plus `attrs`, a wide sparse object that holds
   *  `attrsPerRow` keys drawn from a pool of `attrPool`. Each pool key keeps
   *  one type, so the corpus always has a schema. */
  val AttrPool = 300
  val AttrsPerRow = 30
  private val AttrKeys = Array.tabulate(AttrPool)(i => f"k$i%03d")

  def ndjson(dir: String, seed: Long, rows: Long, files: Int): NdjsonCorpus = {
    val out = freshDir(dir)
    val perFile = (rows + files - 1) / files
    val parts = inParallel(files) { f =>
      val rnd = new SplittableRandom(seed * 1000003L + f)
      val exp = new EObj
      var bytes = 0L
      val w = writer(new File(out, f"part-$f%05d.json"))
      var id = f * perFile
      val last = math.min(rows, id + perFile)
      while (id < last) {
        val line = ndjsonRow(id, rnd, exp)
        w.write(line); w.write('\n')
        bytes += line.length + 1
        id += 1
      }
      w.close()
      (exp, bytes)
    }
    val exp = new EObj
    parts.foreach(p => exp.merge(p._1))
    NdjsonCorpus(out.getPath, rows, files, parts.map(_._2).sum, exp)
  }

  /** One `infer_ndjson` row. Every value written is also added to `exp`. */
  def ndjsonRow(id: Long, rnd: SplittableRandom, exp: EObj): String = {
    val sb = new java.lang.StringBuilder(640)
    def num(o: EObj, k: String, lit: String): Unit = {
      o.field(k, new ENum).add(lit); sb.append('"').append(k).append("\":").append(lit)
    }
    def str(o: EObj, k: String, s: String): Unit = {
      o.field(k, new EStr).add(s); sb.append('"').append(k).append("\":\"").append(s).append('"')
    }
    def bool(o: EObj, k: String, b: Boolean): Unit = {
      o.field(k, EBool); sb.append('"').append(k).append("\":").append(b)
    }
    sb.append('{')
    num(exp, "id", id.toString); sb.append(',')
    str(exp, "name", "user_" + rnd.nextInt(10000)); sb.append(',')
    num(exp, "score", decimal(rnd.nextInt(100000), 1)); sb.append(',')
    bool(exp, "active", rnd.nextBoolean()); sb.append(',')
    if (rnd.nextInt(7) != 0) { str(exp, "note", "note" + rnd.nextInt(50)); sb.append(',') }
    val tags = exp.field("tags", new EArr(new EStr)).elem.asInstanceOf[EStr]
    sb.append("\"tags\":[")
    for (i <- 0 until 1 + rnd.nextInt(3)) {
      val t = "t" + rnd.nextInt(29)
      tags.add(t); if (i > 0) sb.append(','); sb.append('"').append(t).append('"')
    }
    sb.append("],\"geo\":{")
    val geo = exp.field("geo", new EObj)
    num(geo, "x", (rnd.nextInt(1001) - 500).toString); sb.append(',')
    str(geo, "city", "c" + rnd.nextInt(11))
    sb.append("},\"attrs\":{")
    val attrs = exp.field("attrs", new EObj)
    val picked = pick(rnd, AttrPool, AttrsPerRow)
    var i = 0
    while (i < picked.length) {
      if (i > 0) sb.append(',')
      attr(attrs, picked(i), rnd, sb)
      i += 1
    }
    sb.append("}}").toString
  }

  /** One pool key; its type is fixed by the key number. */
  private def attr(attrs: EObj, key: Int, rnd: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    val k = AttrKeys(key)
    sb.append('"').append(k).append("\":")
    key % 6 match {
      case 0 =>
        val lit = (rnd.nextLong(key.toLong * 1000 + 1) - key * 7).toString
        attrs.field(k, new ENum).add(lit); sb.append(lit)
      case 1 =>
        val s = word(rnd, 1 + rnd.nextInt(5 + key % 40))
        attrs.field(k, new EStr).add(s); sb.append('"').append(s).append('"')
      case 2 =>
        val lit = decimal(rnd.nextLong(key.toLong * 1000 + 1) - key * 100, 2)
        attrs.field(k, new ENum).add(lit); sb.append(lit)
      case 3 =>
        attrs.field(k, EBool); sb.append(rnd.nextBoolean())
      case 4 =>
        val e = attrs.field(k, new EArr(new ENum)).elem.asInstanceOf[ENum]
        sb.append('[')
        for (j <- 0 until 1 + rnd.nextInt(3)) {
          val lit = rnd.nextInt(key + 1).toString
          e.add(lit); if (j > 0) sb.append(','); sb.append(lit)
        }
        sb.append(']')
      case _ =>
        val o = attrs.field(k, new EObj)
        val v = rnd.nextInt(40000).toString
        val u = word(rnd, 1 + rnd.nextInt(12))
        o.field("v", new ENum).add(v); o.field("u", new EStr).add(u)
        sb.append("{\"v\":").append(v).append(",\"u\":\"").append(u).append("\"}")
    }
  }

  final case class GroupedTable(dir: String, rows: Long, tenants: Int, bytes: Long,
      expected: Array[EObj])

  /** `infer_grouped` input: tab-separated (tenant, JSON doc) lines in random
   *  tenant order, so every task holds thousands of groups. Tenant `t` owns
   *  the keys `t<t>_<j>` for `j < 3 + t % 6`, each with one fixed type; a
   *  doc carries a random non-empty subset of them. */
  def grouped(dir: String, seed: Long, rows: Long, tenants: Int, files: Int): GroupedTable = {
    val out = freshDir(dir)
    val perFile = (rows + files - 1) / files
    val parts = inParallel(files) { f =>
      val rnd = new SplittableRandom(seed * 7919L + f)
      val exp = Array.fill(tenants)(new EObj)
      var bytes = 0L
      val w = writer(new File(out, f"part-$f%05d.tsv"))
      var r = f * perFile
      val last = math.min(rows, r + perFile)
      while (r < last) {
        val t = rnd.nextInt(tenants)
        val line = s"$t\t${groupedDoc(t, rnd, exp(t))}"
        w.write(line); w.write('\n')
        bytes += line.length + 1
        r += 1
      }
      w.close()
      (exp, bytes)
    }
    val exp = Array.fill(tenants)(new EObj)
    for ((e, _) <- parts; t <- 0 until tenants) exp(t).merge(e(t))
    GroupedTable(out.getPath, rows, tenants, parts.map(_._2).sum, exp)
  }

  /** `body(i)` for each `i < n` on up to four threads, results in order. */
  private def inParallel[T](n: Int)(body: Int => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (0 until n).map(i => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = body(i) }))
      fs.map(_.get())
    } finally pool.shutdown()
  }

  def groupedDoc(t: Int, rnd: SplittableRandom, exp: EObj): String = {
    val nKeys = 3 + t % 6
    val sb = new java.lang.StringBuilder(128).append('{')
    var first = true
    for (j <- 0 until nKeys if j == 0 || rnd.nextInt(3) != 0) {
      val k = s"t${t}_$j"
      if (!first) sb.append(',')
      first = false
      sb.append('"').append(k).append("\":")
      (t + j) % 4 match {
        case 0 =>
          val lit = (rnd.nextInt(1 << (4 + (t + j) % 20)) - 50).toString
          exp.field(k, new ENum).add(lit); sb.append(lit)
        case 1 =>
          val s = word(rnd, 1 + rnd.nextInt(2 + (t * 7 + j) % 30))
          exp.field(k, new EStr).add(s); sb.append('"').append(s).append('"')
        case 2 =>
          val lit = decimal(rnd.nextLong(1L << (8 + (t + j) % 30)), 1 + (t + j) % 3)
          exp.field(k, new ENum).add(lit); sb.append(lit)
        case _ =>
          exp.field(k, EBool); sb.append(rnd.nextBoolean())
      }
    }
    sb.append('}').toString
  }

  /** `scale` decimal places, always written out: 1234 at scale 2 is "12.34". */
  private def decimal(unscaled: Long, scale: Int): String =
    JBigDecimal.valueOf(unscaled, scale).toPlainString

  private val Letters = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def word(rnd: SplittableRandom, n: Int): String = {
    val cs = new Array[Char](n)
    var i = 0
    while (i < n) { cs(i) = Letters.charAt(rnd.nextInt(Letters.length)); i += 1 }
    new String(cs)
  }

  /** `k` distinct ints below `n`, by a partial Fisher-Yates shuffle. */
  private def pick(rnd: SplittableRandom, n: Int, k: Int): Array[Int] = {
    val a = Array.range(0, n)
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(n - i)
      val t = a(i); a(i) = a(j); a(j) = t
      i += 1
    }
    java.util.Arrays.copyOf(a, k)
  }

  private def writer(f: File) =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)

  def freshDir(path: String): File = {
    val d = new File(path)
    deleteTree(d)
    require(d.mkdirs(), s"cannot create $path")
    d
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
