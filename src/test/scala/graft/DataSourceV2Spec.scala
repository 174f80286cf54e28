package graft

import graft.sources._
import graft.sources.v2.GraftDataSourceV2
import graft.sinks.{TextSink, TextWriteFormat, XlsSink, XlsxSink}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** DSv2 table providers (graft-xlsx / graft-xls / graft-xml /
  * graft-fixed): result parity with the classic object-API paths, and the
  * property the registration exists for — column pruning REACHING the
  * parser (the scan's readSchema shrinks to the query's columns). */
class DataSourceV2Spec extends SparkSpec {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix)

  private val header = Seq("k", "name", "grp")

  test("graft-fixed matches TextSource.read and prunes to selected spans") {
    val dir = tmp("graft-v2-fix-")
    val df = spark.createDataFrame(Seq(("1", "alpha", "10"), ("2", "beta", "20"),
      ("3", "gamma", "30"))).toDF(header: _*)
    val file = dir.resolve("data.fix").toString
    TextSink.write(df, TextWriteFormat(columns = header, padLen = Seq(4, 8, 4)), file)
    val fmt = TextFormat(header = header,
      poslen = Seq((0, 4), (4, 12), (12, 16)), skip = 1)
    val classic = TextSource.read(spark, Seq(file), fmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2df = spark.read.format("graft-fixed")
      .option("header", header.mkString(","))
      .option("poslen", "0-4,4-12,12-16")
      .option("skip", "1")
      .load(file)
    assert(v2df.columns.toSeq == Seq("_file", "_lineno", "k", "name", "grp"))
    val v2 = v2df.select("k", "name", "grp")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(v2.toSeq == classic.toSeq)
    // pruning reaches the scan: the physical plan's scan schema drops
    // everything but the selected column
    val plan = v2df.select("name").queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: name") || plan.contains("ReadSchema: [name]")
      || plan.contains("graft-fixed ReadSchema: name"),
      s"scan not pruned to 'name':\n$plan")
  }

  test("graft-xlsx matches XlsxSource.read; _file/_lineno service columns work") {
    val dir = tmp("graft-v2-xlsx-")
    val df = spark.createDataFrame(Seq(("1", "alpha", "10"), ("2", "beta", "20"))
      ).toDF(header: _*)
    val file = dir.resolve("data.xlsx").toString
    XlsxSink.write(df, header, file)
    val fmt = XlsxFormat(header = header, worksheetId = Some(1))
    // the rows the binaryFile reader that XlsxSource.read replaced gave
    val pinned = Seq(Seq("1", "alpha", "10"), Seq("2", "beta", "20"))
    val classic = XlsxSource.read(spark, Seq(file), fmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2df = spark.read.format("graft-xlsx")
      .option("header", header.mkString(","))
      .option("worksheetId", "1").load(file)
    val v2 = v2df.select("k", "name", "grp")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    assert(classic.toSeq == pinned)
    assert(v2.toSeq == pinned)
    // service columns survive when asked for
    val withMeta = v2df.select("_file", "_lineno", "k").collect()
    assert(withMeta.forall(_.getString(0).nonEmpty))
    assert(withMeta.map(_.getLong(1)).sorted.toSeq == Seq(1L, 2L))
  }

  test("graft-xls (BIFF8) matches XlsSource.read incl. worksheet by name") {
    val dir = tmp("graft-v2-xls-")
    val df = spark.createDataFrame(Seq(("1", "alpha", "10"), ("2", "beta", "20"))
      ).toDF(header: _*)
    val file = dir.resolve("data.xls").toString
    XlsSink.write(df, header, file, sheetName = "sheetz")
    val fmt = XlsxFormat(header = header, worksheet = Some("sheetz"))
    // the rows the binaryFile reader that XlsSource.read replaced gave
    val pinned = Seq(Seq("1", "alpha", "10"), Seq("2", "beta", "20"))
    val classic = XlsSource.read(spark, Seq(file), fmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2 = spark.read.format("graft-xls")
      .option("header", header.mkString(","))
      .option("worksheet", "sheetz").load(file)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    assert(classic.toSeq == pinned)
    assert(v2.toSeq == pinned)
  }

  test("graft-xml matches XmlSource.read; pruned scan skips absent XPaths") {
    val dir = tmp("graft-v2-xml-")
    val xml = "<root><meta><src>m</src></meta><list>" +
      "<r><a>1</a><b>x</b></r><r><a>2</a><b>y</b></r></list></root>"
    val file = dir.resolve("data.xml")
    Files.write(file, xml.getBytes("UTF-8"))
    val fmt = XmlFormat(header = Seq("src", "a", "b"),
      xpathRecordLevel = "//root/list/r",
      fieldXpath = Map("src" -> "/root/meta/src", "a" -> "a", "b" -> "b"))
    // the rows the binaryFile reader that XmlSource.read replaced gave
    val pinned = Seq(Seq("m", "1", "x"), Seq("m", "2", "y"))
    val classic = XmlSource.read(spark, Seq(file.toString), fmt)
      .select("src", "a", "b").collect().map(_.toSeq).sortBy(_(1).toString)
    assert(classic.toSeq == pinned)
    val v2df = spark.read.format("graft-xml")
      .option("header", "src,a,b")
      .option("xpathRecordLevel", "//root/list/r")
      .option("xpath.src", "/root/meta/src")
      .option("xpath.a", "a").option("xpath.b", "b")
      .load(file.toString)
    val v2 = v2df.select("src", "a", "b").collect().map(_.toSeq).sortBy(_(1).toString)
    assert(v2.toSeq == classic.toSeq)
    // a query that only selects `a` must not fail even if another column's
    // xpath were expensive/broken — pruned fields are never evaluated;
    // prove by pointing b at an invalid function and selecting only a
    val pruned = spark.read.format("graft-xml")
      .option("header", "a,b")
      .option("xpathRecordLevel", "//root/list/r")
      .option("xpath.a", "a").option("xpath.b", "boom((")
      .load(file.toString)
      .select("a").collect().map(_.getString(0)).sorted
    assert(pruned.toSeq == Seq("1", "2"))
  }

  test("graft-text matches TextSource.read: plain sep, quoted CSV, regex sep") {
    val dir = tmp("graft-v2-text-")
    // plain sep with an embedded-quote-free payload
    val plain = dir.resolve("plain.csv")
    Files.write(plain, "k;name;grp\n1;alpha;10\n2;beta;20\n;empty;3\n".getBytes("UTF-8"))
    val plainFmt = TextFormat(header = header, sep = ";", skip = 1)
    val classicPlain = TextSource.read(spark, Seq(plain.toString), plainFmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2Plain = spark.read.format("graft-text")
      .option("header", header.mkString(",")).option("sep", ";")
      .option("skip", "1").load(plain.toString)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    assert(v2Plain.toSeq == classicPlain.toSeq) // incl. dropEmptyFirstField

    // quoted CSV: embedded separator, doubled quote, unquoted numerics
    val quoted = dir.resolve("quoted.csv")
    Files.write(quoted,
      "k,name,grp\n1,\"al,pha\",10\n2,\"say \"\"hi\"\"\",20\n3,plain,30\n"
        .getBytes("UTF-8"))
    val quotedFmt = TextFormat(header = header, sep = ",", quoted = true, skip = 1)
    val classicQuoted = TextSource.read(spark, Seq(quoted.toString), quotedFmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2Quoted = spark.read.format("graft-text")
      .option("header", header.mkString(",")).option("sep", ",")
      .option("quoted", "true").option("skip", "1").load(quoted.toString)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    assert(v2Quoted.toSeq == classicQuoted.toSeq)

    // regex separator + skipUntil
    val rx = dir.resolve("rx.txt")
    Files.write(rx,
      "junk preamble\n--data--\n1  |alpha| 10\n2 |beta |20\n".getBytes("UTF-8"))
    val rxFmt = TextFormat(header = header, sep = "\\s*\\|\\s*",
      sepIsRegex = true, skipUntil = Some("^--data--$"))
    val classicRx = TextSource.read(spark, Seq(rx.toString), rxFmt)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    val v2Rx = spark.read.format("graft-text")
      .option("header", header.mkString(",")).option("sep", "\\s*\\|\\s*")
      .option("sepIsRegex", "true").option("skipUntil", "^--data--$")
      .load(rx.toString)
      .select("k", "name", "grp").collect().map(_.toSeq).sortBy(_.head.toString)
    assert(v2Rx.toSeq == classicRx.toSeq)
  }

  test("graft-text and TextSource.read agree on every (file, _lineno, fields)") {
    // one case per format: files cover CRLF ends, blank lines in the
    // middle and at the end, an empty first field (dropped AFTER
    // numbering, so numbers keep their gap), skipUntil with and without
    // a match (and a second marker line kept as data), and bare LFs kept
    // inside values under allowLinefeedInData
    val cases: Seq[(TextFormat, Map[String, String], Seq[String])] = Seq(
      (TextFormat(header = header, sep = ";", skip = 1),
        Map("skip" -> "1"),
        Seq("h1;h2;h3\r\n1;x;10\r\n\r\n2;y;20\r\n;z;30\r\n3;w;30\r\n\r\n\r\n",
          "hdr\n\n4;a;1\n5;b;2\n\n   \n6;c;3")),
      (TextFormat(header = header, sep = ";", skipUntil = Some("^--data--$")),
        Map("skipUntil" -> "^--data--$"),
        Seq("junk\n--data--\n\n1;a;1\n2;b;2\n",
          "junk\nno marker here\n1;a;1\n",
          "--data--\n--data--\n7;c;3\r\n\r\n8;d;4")),
      (TextFormat(header = header, sep = ";", allowLinefeedInData = true),
        Map("allowLinefeedInData" -> "true"),
        Seq("1;multi\nline;10\r\n\r\n2;b;20\r\n;e;5\r\n3;c;30",
          "\r\n9;lf\n\nin;1\r\n")))
    cases.zipWithIndex.foreach { case ((fmt, opts, contents), c) =>
      val dir = tmp(s"graft-v2-lineno-$c-")
      val files = contents.zipWithIndex.map { case (body, i) =>
        val f = dir.resolve(s"f$i.txt")
        Files.write(f, body.getBytes("UTF-8"))
        f.toString
      }
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("_file"), col("_lineno"), col("k"), col("name"), col("grp"))
          .collect().map(r => (new org.apache.hadoop.fs.Path(r.getString(0)).getName,
            r.getLong(1), r.getString(2), r.getString(3), r.getString(4)))
          .sortBy(r => (r._1, r._2)).toSeq
      val classic = rows(TextSource.read(spark, files, fmt))
      val v2 = rows(spark.read.format("graft-text")
        .option("header", header.mkString(",")).option("sep", ";")
        .options(opts).load(files: _*))
      assert(classic == v2, s"case $c")
      assert(classic.nonEmpty, s"case $c")
    }
    // pinned numbers for the first case: the empty-first-field line keeps
    // its number (3) when dropped; blank lines are never numbered
    val dir = tmp("graft-v2-lineno-pin-")
    val f = dir.resolve("f.txt")
    Files.write(f, "h\r\n1;x;10\r\n\r\n2;y;20\r\n;z;30\r\n3;w;30\r\n\r\n".getBytes("UTF-8"))
    val pinned = TextSource.read(spark, Seq(f.toString),
        TextFormat(header = header, sep = ";", skip = 1))
      .select("_lineno", "k").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(pinned.sorted == Seq((1L, "1"), (2L, "2"), (4L, "3")))
  }

  test("the TextFormat law's pinned rows: quoted, fixed-width, locale numerics, verbatim headers") {
    // expected rows are the parse of the expression-based TextSource.read
    // that the law replaced; NULL is printed as "NULL"
    val dir = tmp("graft-v2-pin-")
    def parse(name: String, body: String, fmt: TextFormat,
              opts: Map[String, String] = Map.empty): (Seq[String], Seq[String], Seq[String]) = {
      val f = dir.resolve(name)
      Files.write(f, body.getBytes("UTF-8"))
      def show(df: org.apache.spark.sql.DataFrame) = df.drop("_file").collect().toSeq
        .map(_.toSeq.map(v => if (v == null) "NULL" else v.toString).mkString("|"))
      val v2 = if (opts.isEmpty) Nil else show(spark.read.format(
        if (fmt.isFixedWidth) "graft-fixed" else "graft-text").options(opts).load(f.toString))
      val df = TextSource.read(spark, Seq(f.toString), fmt)
      (df.columns.toSeq, show(df), v2)
    }
    // quoted mode: an empty field, bare (`,,`) or quoted (`""`), is NULL —
    // the value SchemaCoercion logs no error for; a blank field trims to
    // ""; a doubled quote is a literal quote; a trailing separator ends
    // in an empty (NULL) field; fields past the header are dropped
    val (_, quoted, quotedV2) = parse("q.csv",
      "1,,10\n2,\"\",20\n3,\"say \"\"hi\"\"\",30\n4,b,\n5, ,50\n6,\" x \",60\n7,c,70,\n8,\"\"\n9\n",
      TextFormat(header = header, sep = ",", quoted = true),
      Map("header" -> "k,name,grp", "sep" -> ",", "quoted" -> "true"))
    val quotedRows = Seq("1|1|NULL|10", "2|2|NULL|20", "3|3|say \"hi\"|30", "4|4|b|NULL",
      "5|5||50", "6|6|x|60", "7|7|c|70", "8|8|NULL|NULL", "9|9|NULL|NULL")
    assert(quoted == quotedRows)
    assert(quotedV2 == quotedRows)
    // fixed width: a short line's spans are "" (not NULL), also a span
    // that starts past the line's end
    val (_, fixed, fixedV2) = parse("f.fix", "1  alpha 10\n2  be\n3\n4  gamma 40   \n",
      TextFormat(header = header, poslen = Seq((0, 3), (3, 9), (9, 12))),
      Map("header" -> "k,name,grp", "poslen" -> "0-3,3-9,9-12"))
    val fixedRows = Seq("1|1|alpha|10", "2|2|be|", "3|3||", "4|4|gamma|40")
    assert(fixed == fixedRows)
    assert(fixedV2 == fixedRows)
    // locale numerics: grouped thousands, a postfix minus, a `,00` tail
    val (_, locale, _) = parse("n.txt", "1;1.234,56;x\n2;234,56-;y\n3;17,00;z\n4; 1.000.000,5 ;w\n",
      TextFormat(header = header, sep = ";", thousandSep = ".", decimalSep = ","))
    assert(locale == Seq("1|1|1234.56|x", "2|2|234.56-|y", "3|3|17.00|z", "4|4|1000000.5|w"))
    // header and target names are kept verbatim: a `,` inside a name and
    // a leading space survive (a `header` option would split and trim them)
    val (names, rows, _) = parse("h.txt", "1;a\n2;b\n",
      TextFormat(header = Seq("a,b", " c"), sep = ";"))
    assert(names == Seq("_file", "_lineno", "a,b", " c"))
    assert(rows == Seq("1|1|a", "2|2|b"))
    val (renamed, _, _) = parse("h2.txt", "1;a\n",
      TextFormat(header = Seq("k", "v"), targetHeader = Seq("x,y", " z"), sep = ";"))
    assert(renamed == Seq("_file", "_lineno", "x,y", " z"))
    // a literal separator splits like the regex split of its quoted form
    for ((line, sep) <- Seq(("a|||b", "||"), ("|x||", "|"), ("1.234,5", "."), ("ab", "ab"), ("a", ";")))
      assert(GraftDataSourceV2.splitLiteral(line, sep).toSeq ==
        java.util.regex.Pattern.compile(java.util.regex.Pattern.quote(sep)).split(line, -1).toSeq)
  }

  test("graft-text and TextSource.read read through the session's Hadoop conf") {
    // a file-system scheme registered only in the session conf, uncached,
    // so a reader that builds its own Configuration cannot resolve it
    val dir = tmp("graft-v2-sessionfs-")
    Files.write(dir.resolve("d.txt"), "1;a\n2;b\n".getBytes("UTF-8"))
    val file = "sessionfs://" + dir.resolve("d.txt").toString
    val keys = Seq("fs.sessionfs.impl" -> classOf[SessionOnlyFs].getName,
      "fs.sessionfs.impl.disable.cache" -> "true")
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val fmt = TextFormat(header = Seq("k", "v"), sep = ";")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "v").collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(rows(TextSource.read(spark, Seq(file), fmt)) == Seq(("1", "a"), ("2", "b")))
      assert(rows(spark.read.format("graft-text").option("header", "k,v")
        .option("sep", ";").load(file)) == Seq(("1", "a"), ("2", "b")))
      assert(TextSource.firstLine(spark, file, fmt) == "1;a")
    } finally keys.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("DSv2 statistics make a small source broadcastable in joins") {
    val dir = tmp("graft-v2-stats-")
    val f = dir.resolve("dim.fix")
    Files.write(f, "k  name    \n1  alpha   \n2  beta    \n".getBytes("UTF-8"))
    val dim = spark.read.format("graft-fixed")
      .option("header", "k,name").option("poslen", "0-3,3-11")
      .option("skip", "1").load(f.toString)
    val fact = spark.range(1000).selectExpr("CAST(id % 3 AS STRING) AS k", "id")
    val plan = fact.join(dim, Seq("k")).queryExecution.executedPlan.toString
    // file-size statistics put the dim under the broadcast threshold;
    // without SupportsReportStatistics this plans a sort-merge join
    assert(plan.contains("BroadcastHashJoin"),
      s"small DSv2 dim not broadcast:\n${plan.take(500)}")
  }

  test("count(*) over a DSv2 table prunes to the empty schema and still counts") {
    val dir = tmp("graft-v2-count-")
    val f = dir.resolve("d.fix")
    Files.write(f, "k  name    \n1  row1   \n2  row2   \n".getBytes("UTF-8"))
    val n = spark.read.format("graft-fixed")
      .option("header", "k,name").option("poslen", "0-3,3-11")
      .option("skip", "1").load(f.toString).count()
    assert(n == 2)
  }

  test("multi-file load lists files and keeps per-file line numbers") {
    val dir = tmp("graft-v2-multi-")
    for (i <- 1 to 3) {
      val f = dir.resolve(s"f$i.fix")
      Files.write(f, s"k  name    \n$i  row$i   \n".getBytes("UTF-8"))
    }
    val v2 = spark.read.format("graft-fixed")
      .option("header", "k,name").option("poslen", "0-3,3-11")
      .option("skip", "1")
      .load(dir.toString + "/*.fix")
    assert(v2.count() == 3)
    assert(v2.select("_lineno").collect().forall(_.getLong(0) == 1L))
  }

  test("_file filter pushdown prunes the planned partitions") {
    val dir = tmp("graft-v2-push-")
    for (i <- 1 to 4) {
      val f = dir.resolve(s"f$i.csv")
      Files.write(f, s"k,name\n$i,row$i\n${i}0,row${i}0\n".getBytes("UTF-8"))
    }
    val v2 = spark.read.format("graft-text")
      .option("header", "k,name").option("sep", ",").option("skip", "1")
      .load(dir.toString + "/*.csv")
    val onlyF2 = v2.filter(col("_file").endsWith("f2.csv"))
    // values correct (residual applies regardless of pruning)
    assert(onlyF2.select("k").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("2", "20"))
    // the pushed filter reaches the scan and prunes the file listing
    val plan = onlyF2.queryExecution.executedPlan
    val planStr = plan.toString
    assert(planStr.contains("PushedFilters: [StringEndsWith(_file,f2.csv)]"),
      s"no pushed _file filter in plan:\n$planStr")
    val scans = plan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty && scans.head.partitions.size == 1,
      s"expected 1 pruned partition, got ${scans.map(_.partitions.size)}")
    // an unsupported filter (on a data column) is NOT claimed as pushed
    val unp = v2.filter(col("k") === "2").queryExecution.executedPlan.toString
    assert(unp.contains("PushedFilters: []"), s"claimed unsupported push:\n$unp")
  }

  test("_lineno upper-bound pushdown stops the parser early, values exact") {
    val dir = tmp("graft-v2-line-")
    val body = "k,name\n" + (1 to 100).map(i => s"$i,row$i").mkString("\n") + "\n"
    Files.write(dir.resolve("big.csv"), body.getBytes("UTF-8"))
    val v2 = spark.read.format("graft-text")
      .option("header", "k,name").option("sep", ",").option("skip", "1")
      .load(dir.resolve("big.csv").toString)
    val head3 = v2.filter(col("_lineno") <= 3)
    assert(head3.select("k").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("1", "2", "3"))
    assert(head3.queryExecution.executedPlan.toString
      .contains("PushedFilters: [LessThanOrEqual(_lineno,3)]"))
    // exact-match bound: prunes to a prefix, residual picks the line
    val one = v2.filter(col("_lineno") === 42L)
    assert(one.select("k").collect().map(_.getString(0)).toSeq == Seq("42"))
  }
}

/** The local file system under a scheme of its own, `sessionfs:`, for a
  * test that registers it in the session conf only. */
class SessionOnlyFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("sessionfs:///")
  override def getScheme: String = "sessionfs"
}
