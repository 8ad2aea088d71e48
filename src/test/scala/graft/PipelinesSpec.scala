package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ingest.{FileManifest, Pipelines, SchemaDiff}

/** End-to-end drives of the reference's three entry points (SURVEY.md §3)
  * over on-disk fixtures — the "switching user" acceptance tests.
  */
class PipelinesSpec extends SparkFunSuite {
  import spark.implicits._

  test("EP1 scrape: html → links → filtered → downloaded with status") {
    val dir = Files.createTempDirectory("ep1")
    val src = dir.resolve("remote"); Files.createDirectories(src)
    Files.writeString(src.resolve("baci_hs92.zip"), "ZIPDATA")
    Files.writeString(src.resolve("guide.pdf"), "PDF")
    val base = src.toUri.toString.stripSuffix("/")
    val html =
      s"""<html><body><div class="content_box"><div id="dl">
         |<a href="$base/baci_hs92.zip">HS92</a>
         |<a href="guide.pdf">Guide</a>
         |<a href="index.html">Home</a>
         |<a href="$base/baci_hs92.zip">dup</a>
         |</div></div></body></html>""".stripMargin.replace("\n", "")
    val out = dir.resolve("out").toString
    val status = Pipelines.scrape(spark, html, s"$base/", out, backoffMs = 1)
      .select("url", "ok").as[(String, Boolean)].collect().toMap
    assert(status.size === 2) // deduped
    assert(status.values.forall(identity))
    assert(Files.readString(java.nio.file.Path.of(s"$out/baci_hs92.zip")) === "ZIPDATA")
    assert(Files.exists(java.nio.file.Path.of(s"$out/guide.pdf")))
  }

  test("EP1 scrapeUrl: fetch over real HTTP → full scrape chain") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, body: Array[Byte], status: Int = 200): Unit =
      server.createContext(path, new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          assert(ex.getRequestHeaders.getFirst("User-Agent")
            .startsWith("graft-ingest"))
          ex.sendResponseHeaders(status, body.length)
          ex.getResponseBody.write(body); ex.close()
        }
      })
    val port = { server.start(); server.getAddress.getPort }
    val base = s"http://127.0.0.1:$port"
    val html =
      s"""<html><body><div class="content_box"><div id="dl">
         |<a href="$base/data/baci_hs92.zip">HS92</a>
         |<a href="/data/guide.pdf">Guide</a>
         |<a href="index.html">Home</a>
         |</div></div></body></html>""".stripMargin.replace("\n", "")
    serve("/page.html", html.getBytes("UTF-8"))
    serve("/data/baci_hs92.zip", "ZIPDATA".getBytes("UTF-8"))
    serve("/data/guide.pdf", "PDF".getBytes("UTF-8"))
    try {
      val out = Files.createTempDirectory("ep1url").toString
      val status = Pipelines.scrapeUrl(spark, s"$base/page.html", base,
        out, backoffMs = 1)
        .select("url", "ok").as[(String, Boolean)].collect().toMap
      assert(status.size === 2 && status.values.forall(identity))
      assert(Files.readString(
        java.nio.file.Path.of(s"$out/baci_hs92.zip")) === "ZIPDATA")
      intercept[java.io.IOException] {
        Pipelines.fetch(s"$base/nope.html")
      }
    } finally server.stop(0)
  }

  test("EP2 assessChanges: file diff + per-pair schema/row drift") {
    val root = Files.createTempDirectory("ep2")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a,b\n1,2\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a,c\n1,x\n2,y\n")
    Files.writeString(oldD.resolve("Gone_V202301.csv"), "z\n0\n")
    def read(p: String) = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p)
    val (fd, pc) = Pipelines.assessChanges(spark, oldD.toString,
      newD.toString, read)
    val files = fd.select("std_name", "exists_in_old", "exists_in_new")
      .as[(String, Boolean, Boolean)].collect().toSet
    assert(files === Set(("trade", true, true), ("gone", true, false)))
    val pair = pc.as[(String, Long, Long, Long, Option[Seq[String]],
      Option[Seq[String]], Option[Seq[String]])].head()
    assert(pair._1 === "trade" && pair._4 === 1L)
    assert(pair._5 === Some(Seq("c")) && pair._6 === Some(Seq("b")))
  }

  test("sink_report: markdown changelog over the EP2+EP3 frames") {
    val root = Files.createTempDirectory("rep")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    Files.writeString(oldD.resolve("Trade_V202301.csv"), "a,b\n1,2\n")
    Files.writeString(newD.resolve("Trade_V202401.csv"), "a,c\n1,x\n2,y\n")
    Files.writeString(oldD.resolve("Gone_V202301.csv"), "z\n0\n")
    Files.writeString(newD.resolve("Born_V202401.csv"), "q\n9\n")
    def read(p: String) = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(p)
    val (fd, pc) = Pipelines.assessChanges(spark, oldD.toString,
      newD.toString, read)
    val cs = Seq(("country", "added", "CHL"), ("species", "removed", "x"))
      .toDF("entity", "direction", "value")
    val md = ingest.Report.changelog(fd, pc, cs)
    val expected =
      """# Data changelog
        |
        |## New files
        |
        || std_name |
        || --- |
        || born |
        |
        |## Removed files
        |
        || std_name |
        || --- |
        || gone |
        |
        |## Size changes
        |
        || std_name | size_change_mb |
        || --- | --- |
        || trade | 4.0E-6 |
        |
        |## Column changes
        |
        |Only matching .csv and .xlsx files were compared.
        |
        || std_name | added_cols | removed_cols |
        || --- | --- | --- |
        || trade | c | b |
        |
        |## Row-count changes
        |
        || std_name | old_rows | new_rows | row_change |
        || --- | --- | --- | --- |
        || trade | 1 | 2 | 1 |
        |
        |## Country and species changes
        |
        || entity | direction | value |
        || --- | --- | --- |
        || country | added | CHL |
        || species | removed | x |
        |""".stripMargin
    assert(md === expected)
    val dest = ingest.Report.write(root.resolve("rpt/changelog.md"), fd, pc, cs)
    assert(Files.readString(dest) === md)
  }

  test("EP3 countrySpeciesDiff: both-direction set diffs, sorted") {
    def prod(rows: Seq[(String, String)]) = rows.map { case (c, s) =>
      ("1", c, "m", s, s.toUpperCase, "PISCES", "Fish")
    }.toDF("country", "country_iso3_code", "prod_method",
      "species_name_en", "species_scientific_name",
      "species_major_group", "yearbook_group_en")
    val oldP = prod(Seq(("USA", "cod"), ("NOR", "herring")))
    val newP = prod(Seq(("USA", "cod"), ("CHL", "anchoveta")))
    val d = Pipelines.countrySpeciesDiff(spark, oldP, newP)
      .as[(String, String, String)].collect().toSeq
    assert(d === Seq(
      ("country", "added", "CHL"), ("country", "removed", "NOR"),
      ("species", "added", "anchoveta"), ("species", "removed", "herring")))
  }

  /** `n` drifting csv pairs (pair i: i+1 old rows → i+2 new rows, column
    * `c$i` → `d$i`) under old/ and new/.
    */
  private def mkPairs(n: Int): (Path, Path) = {
    val root = Files.createTempDirectory("ep2n")
    val oldD = root.resolve("old"); val newD = root.resolve("new")
    Files.createDirectories(oldD); Files.createDirectories(newD)
    (0 until n).foreach { i =>
      Files.writeString(oldD.resolve(s"T${i}_V202301.csv"),
        s"a,c$i\n" + (0 to i).map(r => s"$r,x\n").mkString)
      Files.writeString(newD.resolve(s"T${i}_V202401.csv"),
        s"a,d$i\n" + (0 to i + 1).map(r => s"$r,y\n").mkString)
    }
    (oldD, newD)
  }

  private def readCsv(p: String): DataFrame = spark.read
    .option("header", "true").option("inferSchema", "true").csv(p)

  test("EP2 assessChanges: concurrent pairs equal a serial reference, in order") {
    val n = spark.sparkContext.defaultParallelism * 2 + 1
    val (oldD, newD) = mkPairs(n)
    val inFlight = new java.util.concurrent.atomic.AtomicInteger()
    val peak = new java.util.concurrent.atomic.AtomicInteger()
    def read(p: String): DataFrame = {
      peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try { Thread.sleep(50); readCsv(p) } finally inFlight.decrementAndGet()
    }
    val (_, pc) = Pipelines.assessChanges(spark, oldD.toString,
      newD.toString, read)
    // the serial reference: the pipeline's own pairs, one per call (a
    // one-pair pool runs serially)
    def rows(df: DataFrame) = df.as[(String, Long, Long, Long,
      Option[Seq[String]], Option[Seq[String]], Option[Seq[String]])]
      .collect().toSeq
    val pairs = Pipelines.matchedPairs(
      FileManifest.list(spark, oldD.toString, "old"),
      FileManifest.list(spark, newD.toString, "new"))
    val serial = pairs.flatMap(p =>
      rows(SchemaDiff.pairCompare(spark, Seq(p), readCsv)))
    assert(rows(pc) === serial)
    assert(serial.size === n)
    assert(peak.get > 1 && peak.get <= spark.sparkContext.defaultParallelism,
      s"peak concurrent readFn calls ${peak.get}")
  }

  test("EP2 pairCompare: a failing readFn surfaces its pair's paths, no live pool") {
    val n = spark.sparkContext.defaultParallelism + 2
    val (oldD, newD) = mkPairs(n)
    val pairs = (0 until n).map(i => (s"t$i",
      oldD.resolve(s"T${i}_V202301.csv").toString,
      newD.resolve(s"T${i}_V202401.csv").toString))
    val bad = pairs(n / 2)._3
    def read(p: String): DataFrame =
      if (p == bad) throw new java.io.IOException(s"cannot open $p")
      else readCsv(p)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val call = Future(SchemaDiff.pairCompare(spark, pairs, read))(
      scala.concurrent.ExecutionContext.global)
    val e = intercept[RuntimeException](Await.result(call, 120.seconds))
    assert(e.getMessage.contains(bad), e.getMessage)
    assert(e.getCause.isInstanceOf[java.io.IOException])
    def live = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
      .count(t => t.isAlive && t.getName.startsWith("graft-pair-compare-"))
    val deadline = System.nanoTime() + 30.seconds.toNanos
    while (live > 0 && System.nanoTime() < deadline) Thread.sleep(50)
    assert(live === 0)
  }

  test("EP3 countrySpeciesDiff matches the double-except form on nulls + dups") {
    def prod(rows: Seq[(String, String)]) = rows.map { case (c, s) =>
      ("1", c, "m", s, s, "PISCES", "Fish")
    }.toDF("country", "country_iso3_code", "prod_method",
      "species_name_en", "species_scientific_name",
      "species_major_group", "yearbook_group_en")
    // the formulation countrySpeciesDiff replaced: four excepts
    def reference(oldP: DataFrame, newP: DataFrame): DataFrame = {
      val (oldC, newC) = (ingest.CleanProd.clean(oldP), ingest.CleanProd.clean(newP))
      def diff(entity: String, c: String): DataFrame = {
        val o = oldC.select(col(c).as("value")).distinct()
        val n = newC.select(col(c).as("value")).distinct()
        o.except(n).select(lit(entity).as("entity"),
          lit("removed").as("direction"), col("value"))
          .unionByName(n.except(o).select(lit(entity).as("entity"),
            lit("added").as("direction"), col("value")))
      }
      diff("country", "country_iso3_alpha")
        .unionByName(diff("species", "SciName"))
        .orderBy("entity", "direction", "value")
    }
    val cases = Seq(
      // null country and species on the old side only, duplicates
      Seq(("USA", "cod"), ("USA", "cod"), (null, null), ("NOR", "herring")) ->
        Seq(("USA", "cod"), ("CHL", "anchoveta"), ("CHL", "anchoveta")),
      // nulls on the new side only
      Seq(("USA", "cod")) -> Seq(("USA", null), (null, "cod"), ("PER", "hake")),
      // nulls on both sides: no diff row for null
      Seq((null, "cod"), ("USA", null), ("USA", "cod")) ->
        Seq((null, null), ("USA", "cod"), ("USA", "sprat"), ("USA", "sprat")))
    cases.foreach { case (o, n) =>
      val got = Pipelines.countrySpeciesDiff(spark, prod(o), prod(n))
      val want = reference(prod(o), prod(n))
      assert(got.schema === want.schema)
      assert(got.collect().toSeq === want.collect().toSeq, s"$o -> $n")
    }
  }

  test("sink_report: over maxRows rows prints the truncation note, in Spark order") {
    // UTF-16 order puts U+1F600.. before U+FF21, Spark's UTF-8 order
    // after it: the kept 1000 rows differ between the two
    val names = (0 until 1001).map(i => "\uD83D\uDE01" + f"$i%04d") ++
      Seq("\uD83D\uDE00", "\uFF21", "B")
    val fd = names.map(s => (s, false, true, Option.empty[Double]))
      .toDF("std_name", "exists_in_old", "exists_in_new", "size_change_mb")
    val pc = SchemaDiff.pairCompare(spark, Seq.empty, readCsv)
    val cs = (0 until 1001).map(i => ("species", "added", f"s$i%04d"))
      .toDF("entity", "direction", "value")
    val md = ingest.Report.changelog(fd, pc, cs)
    assert(md.split("\n").count(_ == "*(truncated at 1000 rows)*") === 2)
    val shown = md.split("\n## ")(1).split("\n").toSeq
      .filter(l => l.startsWith("| ") && l != "| std_name |" && l != "| --- |")
    val sparkOrder = fd.select("std_name").orderBy("std_name")
      .as[String].collect().take(1000).map(s => s"| $s |").toSeq
    assert(shown === sparkOrder)
    assert(shown.take(3) === Seq("| B |", "| \uFF21 |", "| \uD83D\uDE00 |"))
  }
}
