package graftbench

import java.io.{BufferedOutputStream, ByteArrayOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. They share no code with graft's own readers
  * and writers, so a change to a graft writer cannot change the inputs.
  * Every generator is a pure function of its seed and runs in the one
  * benchmark process. */
object Gen {

  // ---------------------------------------------------------------- MARC

  final case class MarcInput(records: Long, bytes: Long, files: Int,
                             titles: Map[String, String],
                             rejects: Set[String])

  /** The substring the loopback Solr stub rejects. */
  val RejectMarker = "BENCHREJECT"

  private val Words = Vector("history", "science", "river", "music", "theory",
    "garden", "letters", "journey", "northern", "city", "poems", "war",
    "economic", "early", "modern", "studies", "language", "art", "ocean",
    "mountain", "law", "medicine", "church", "railway", "children", "songs",
    "empire", "voyage", "harvest", "silver", "winter", "atlas", "memoir",
    "chronicle", "account", "treatise", "essays", "survey", "notes", "guide")
  private val Subjects = Vector("History", "Music", "Geography", "Botany",
    "Railroads", "Poetry", "Economics", "Medicine", "Law", "Art")
  private val Places = Vector("France", "Japan", "Peru", "Canada", "Egypt",
    "Norway", "India", "Chile")
  private val LccClasses = Vector("QA", "PS", "HD", "ML", "KF", "BX", "DS", "N")

  private def words(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => Words(r.nextInt(Words.size))).mkString(" ")

  private def title(r: SplittableRandom): String = {
    val t = words(r, 2 + r.nextInt(6))
    t.substring(0, 1).toUpperCase + t.substring(1)
  }

  /** One ISO-2709 record: leader, directory, fields, terminators. */
  def iso2709(fields: Seq[(String, Array[Byte])]): Array[Byte] = {
    val dir = new StringBuilder
    val data = new ByteArrayOutputStream
    fields.foreach { case (tag, body) =>
      dir.append(tag).append(f"${body.length + 1}%04d").append(f"${data.size}%05d")
      data.write(body); data.write(0x1e)
    }
    val base = 24 + dir.length + 1
    val length = base + data.size + 1
    val leader = f"$length%05dnam a22$base%05d   4500"
    val out = new ByteArrayOutputStream(length)
    out.write(leader.getBytes(UTF_8))
    out.write(dir.toString.getBytes(UTF_8))
    out.write(0x1e)
    data.writeTo(out)
    out.write(0x1d)
    out.toByteArray
  }

  private def control(v: String): Array[Byte] = v.getBytes(UTF_8)

  private def datafield(ind: String, subs: (Char, String)*): Array[Byte] = {
    val b = new StringBuilder(ind)
    subs.foreach { case (c, v) => b.append('\u001f').append(c).append(v) }
    b.toString.getBytes(UTF_8)
  }

  /** `n` records of varied shape: field counts, repeated 6XX, 880 linkage,
    * long 505 contents notes, local 991 holdings, and the tags the demo
    * indexer reads. `rejectEvery` records carry [[RejectMarker]]. The
    * expected `title_display` of each id is returned beside the files. */
  def marc(dir: File, seed: Long, n: Int, files: Int,
           rejectEvery: Int): MarcInput = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val titles = Map.newBuilder[String, String]
    val rejects = Set.newBuilder[String]
    val perFile = (n + files - 1) / files
    var bytes = 0L
    var id = 0
    (0 until files).foreach { f =>
      val out = new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"part-$f%03d.mrc")), 1 << 16)
      try {
        var k = 0
        while (k < perFile && id < n) {
          val recId = f"bb${seed % 1000}%03d$id%08d"
          val t = title(r)
          val year = 1850 + r.nextInt(170)
          val fs = Vector.newBuilder[(String, Array[Byte])]
          fs += "001" -> control(recId)
          fs += "005" -> control("20240101120000.0")
          fs += "008" -> control(f"240101s$year%04d    xx            000 0 eng d")
          if (r.nextInt(3) == 0) fs += "010" -> datafield("  ", 'a' -> f"  ${r.nextInt(99999999)}%08d")
          if (r.nextInt(2) == 0) fs += "020" -> datafield("  ", 'a' -> f"97801${r.nextInt(99999999)}%08d")
          fs += "050" -> datafield("00", 'a' -> f"${LccClasses(r.nextInt(LccClasses.size))}${1 + r.nextInt(900)}", 'b' -> ".A1")
          fs += "100" -> datafield("1 ", 'a' -> s"${title(r)},", 'd' -> s"${year - 40}-")
          val linked = r.nextInt(10) == 0
          val t245 = Seq('a' -> t, 'c' -> s"by ${words(r, 2)}")
          fs += "245" -> datafield("10", (if (linked) ('6' -> "880-01") +: t245 else t245): _*)
          fs += "260" -> datafield("  ", 'a' -> Places(r.nextInt(Places.size)), 'b' -> title(r), 'c' -> year.toString)
          fs += "300" -> datafield("  ", 'a' -> s"${50 + r.nextInt(600)} p.")
          if (r.nextInt(4) == 0) fs += "490" -> datafield("0 ", 'a' -> title(r))
          if (r.nextInt(5) == 0) {
            val parts = (0 until 5 + r.nextInt(40)).flatMap(_ =>
              Seq('t' -> title(r), 'r' -> words(r, 2)))
            fs += "505" -> datafield("00", parts: _*)
          }
          if (id % rejectEvery == rejectEvery / 2) {
            fs += "590" -> datafield("  ", 'a' -> s"$RejectMarker $recId")
            rejects += s"bib_$recId"
          }
          (0 until r.nextInt(6)).foreach { _ =>
            fs += "650" -> datafield(" 0", 'a' -> Subjects(r.nextInt(Subjects.size)),
              'z' -> Places(r.nextInt(Places.size)), 'y' -> s"${1800 + r.nextInt(200)}")
          }
          if (r.nextInt(4) == 0) fs += "651" -> datafield(" 0", 'a' -> Places(r.nextInt(Places.size)))
          (0 until r.nextInt(3)).foreach(_ => fs += "700" -> datafield("1 ", 'a' -> s"${title(r)},"))
          if (linked) fs += "880" -> datafield("10", '6' -> "245-01", 'a' -> s"Перевод ${words(r, 3)}")
          if (r.nextInt(8) == 0) fs += "991" -> datafield("  ", 'a' -> s"${LccClasses(r.nextInt(LccClasses.size))}${r.nextInt(900)}", 'f' -> "lc")
          val rec = iso2709(fs.result())
          out.write(rec)
          bytes += rec.length
          titles += s"bib_$recId" -> t
          id += 1; k += 1
        }
      } finally out.close()
    }
    MarcInput(n.toLong, bytes, files, titles.result(), rejects.result())
  }

  // ---------------------------------------------------------------- WARC

  /** Per-page ground truth of a generated crawl. `group` ties the members
    * of one planted exact- or near-duplicate group; `mustKeep` pages are
    * unique, clean, in a kept language and never contaminated. */
  final case class Page(uri: String, status: Int, group: Long,
                        kind: String, mustKeep: Boolean)

  final case class WarcInput(records: Long, bytes: Long, files: Int,
                             pages: Vector[Page], benchmarkTexts: Int)

  private val LangWords: Map[String, Vector[String]] = Map(
    "en" -> Vector("the", "and", "was", "with", "this"),
    "es" -> Vector("el", "los", "una", "pero", "como"),
    "fr" -> Vector("le", "les", "dans", "avec", "pour"),
    "de" -> Vector("der", "und", "nicht", "auch", "eine"))
  private val Langs = Vector("en", "en", "es", "fr", "de")

  /** 2,000-word synthetic vocabulary of pronounceable lowercase words. */
  private val Vocab: Vector[String] = {
    val r = new SplittableRandom(7L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    Vector.fill(2000) {
      val syl = 2 + r.nextInt(3)
      (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }
  }

  private def prose(r: SplittableRandom, lang: String, nWords: Int): String = {
    val marks = LangWords(lang)
    (0 until nWords).map { i =>
      if (i % 4 == 1) marks(r.nextInt(marks.size)) else Vocab(r.nextInt(Vocab.size))
    }.mkString(" ")
  }

  private def html(title: String, text: String): String =
    s"<html><head><title>$title</title><style>p{margin:0}</style>" +
      s"<script>var t=1;</script></head><body><h1>$title</h1><p>$text</p>" +
      "<!-- generated --></body></html>"

  /** Write one gzip member per WARC record into `out`. */
  private def warcRecord(out: OutputStream, uri: String, status: Int,
                         body: Array[Byte], extraHeader: String, n: Long): Int = {
    val reason = status match { case 200 => "OK"; case 301 => "Moved Permanently"; case _ => "Not Found" }
    val http = (s"HTTP/1.1 $status $reason\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"${extraHeader}Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
    val head = (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      f"WARC-Record-ID: <urn:uuid:00000000-0000-0000-0000-$n%012d>\r\n" +
      "Content-Type: application/http; msgtype=response\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8)
    val buf = new ByteArrayOutputStream(head.length + http.length + 64)
    val gz = new GZIPOutputStream(buf)
    gz.write(head); gz.write(http); gz.write("\r\n\r\n".getBytes(UTF_8))
    gz.finish()
    buf.writeTo(out)
    buf.size
  }

  /** `drops` crawl drops of `pagesPerDrop` response records each, split
    * over `filesPerDrop` `.warc.gz` files named so the path order is the
    * drop order. Mix: ~5% 404 and ~3% redirect responses; ~6% of pages
    * belong to planted exact-duplicate groups (within and across drops),
    * ~4% are near-duplicates (a few words changed), ~2% copy a passage of
    * a held-out benchmark text. The benchmark texts are written to
    * `benchmarkPath` as parquet. */
  def warc(spark: SparkSession, dir: File, benchmarkPath: String, seed: Long,
           drops: Int, pagesPerDrop: Int, filesPerDrop: Int): WarcInput = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val benchTexts = Vector.fill(200)(prose(r, "en", 60 + r.nextInt(60)))
    val pages = Vector.newBuilder[Page]
    // bodies of pages already written, for planting duplicates
    val bodies = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    // groups some later page copied (exactly or nearly): which member
    // survives them is the engine's election, not a fixed page
    val copied = scala.collection.mutable.Set.empty[Long]
    var groupSeq = 0L
    var bytes = 0L
    var n = 0L
    (0 until drops).foreach { d =>
      val outs = (0 until filesPerDrop).map(f => new BufferedOutputStream(
        new FileOutputStream(new File(dir, f"drop$d%02d-part$f%02d.warc.gz")), 1 << 16))
      try {
        (0 until pagesPerDrop).foreach { i =>
          val uri = s"http://site${r.nextInt(500)}.example/d$d/p$i"
          val roll = r.nextInt(100)
          val lang = Langs(r.nextInt(Langs.size))
          val (status, group, kind, text, extra) =
            if (roll < 5) (404, -1L, "404", "not found", "")
            else if (roll < 8) (301, -1L, "redirect", "moved", s"Location: $uri/next\r\n")
            else if (roll < 14 && bodies.nonEmpty) {
              val (g, t) = bodies(r.nextInt(bodies.size))
              copied += g
              (200, g, "exact", t, "")
            } else if (roll < 18 && bodies.nonEmpty) {
              val (g, t) = bodies(r.nextInt(bodies.size))
              copied += g
              val ws = t.split(" ")
              ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
              (200, -1L, "near", ws.mkString(" "), "")
            } else if (roll < 20) {
              val src = benchTexts(r.nextInt(benchTexts.size)).split(" ")
              val at = r.nextInt(src.length - 12)
              val passage = src.slice(at, at + 12).mkString(" ")
              (200, -1L, "contaminated",
                prose(r, lang, 40) + " " + passage + " " + prose(r, lang, 40), "")
            } else {
              groupSeq += 1
              val t = prose(r, lang, 80 + r.nextInt(160))
              bodies += ((groupSeq, t))
              (200, groupSeq, "unique", t, "")
            }
          val body = html(text.take(text.indexOf(' ', 20) max 20), text).getBytes(UTF_8)
          val out = outs(i % filesPerDrop)
          bytes += warcRecord(out, uri, status, body, extra, n)
          n += 1
          pages += Page(uri, status, group, kind,
            mustKeep = kind == "unique" && r.nextInt(10) == 0)
        }
      } finally outs.foreach(_.close())
    }
    val fixed = pages.result().map(p =>
      if (p.mustKeep && copied(p.group)) p.copy(mustKeep = false) else p)
    import spark.implicits._
    benchTexts.toDF("text").coalesce(1).write.mode("overwrite").parquet(benchmarkPath)
    WarcInput(n, bytes, drops * filesPerDrop, fixed, benchTexts.size)
  }

  // -------------------------------------------------------------- tables

  private val DocWords = Vector("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** The registry's input tables (documents, customer, nation) with the
    * schemas and value shapes of graft's sf fixtures: `nDocs` documents,
    * and `scale` x the sf0.1 customer count. Each table is ONE parquet
    * file named `<table>.parquet`, readable by Spark and DuckDB alike.
    * Returns the total row count. */
  def tables(spark: SparkSession, dir: File, seed: Long, scale: Double, nDocs: Int): Long = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val nCust = math.max(1, (15000 * scale).toInt)
    val langs = Vector("en", "en", "en", "en", "en", "en", "en", "en", "zh", "zh", "zh",
      "es", "es", "es", "fr", "fr", "fr", "de", "de", "de")
    val docs = (0 until nDocs).map { i =>
      val target = 44 + r.nextInt(534)
      val sb = new StringBuilder
      while (sb.length < target) {
        if (sb.nonEmpty) sb.append(' ')
        sb.append(DocWords(r.nextInt(DocWords.size)))
      }
      val text = sb.toString
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    val cust = (0 until nCust).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25).toLong,
        (r.nextInt(1100000) - 100000) / 100.0,
        Vector("FURNITURE", "MACHINERY", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")(r.nextInt(5)))
    }
    val nation = (0 until 25).map(i => Row(i.toLong, s"NATION_$i", (i % 5).toLong))
    def l(n: String) = StructField(n, LongType, nullable = false)
    def s(n: String) = StructField(n, StringType, nullable = false)
    def d(n: String) = StructField(n, DoubleType, nullable = false)
    val specs: Seq[(String, Seq[Row], StructType)] = Seq(
      ("documents", docs, StructType(Seq(l("doc_id"), s("text"), s("lang"), s("source"), l("n_chars")))),
      ("customer", cust, StructType(Seq(l("c_custkey"), s("c_name"), l("c_nationkey"), d("c_acctbal"), s("c_mktsegment")))),
      ("nation", nation, StructType(Seq(l("n_nationkey"), s("n_name"), l("n_regionkey")))))
    specs.foreach { case (name, rs, schema) => writeSingleParquet(spark, rs, schema, new File(dir, s"$name.parquet")) }
    specs.map(_._2.size.toLong).sum
  }

  /** Write rows as one plain parquet FILE at `target` (Spark writes a
    * directory; the single part file is moved into place). */
  private def writeSingleParquet(spark: SparkSession, rows: Seq[Row],
                                 schema: StructType, target: File): Unit = {
    val tmp = new File(target.getParentFile, s".${target.getName}.tmp")
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one part file in $tmp")
    require(part.head.renameTo(target), s"cannot move ${part.head} to $target")
    Files.deleteTree(tmp)
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()

  def countFiles(f: File, suffix: String): Int =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles(_, suffix)).sum).getOrElse(0)
    else if (f.getName.endsWith(suffix)) 1 else 0
}
