package graft

import graft.pipeline.{ConfigFiles, LoadRunner}
import graft.pipeline.Config._
import graft.sinks.ParquetTable
import java.nio.file.Files

/** Config-file cascade (Wrap.pm:24-60) + typed materialization
  * (checkHash) + an end-to-end load whose entire definition is data. */
class ConfigFilesSpec extends SparkSpec {

  private def write(dir: java.nio.file.Path, rel: String, text: String): Unit = {
    val p = dir.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.write(p, text.getBytes("UTF-8"))
  }

  private def siteTree() = {
    val dir = Files.createTempDirectory("graft-cfg-")
    write(dir, "site.config",
      """[config]
        |folderEnvironmentMapping.dev = Dev
        |folderEnvironmentMapping. = Prod
        |[DB]
        |table = tgt
        |strategy = append
        |keepContent = true
        |[File]
        |header = k, v
        |sep = \t
        |skip = 1
        |""".stripMargin)
    write(dir, "additional/10_more.config",
      """[DB]
        |debugKeyIndicator = k
        |""".stripMargin)
    write(dir, "additional/20_more.config",
      """[DB]
        |debugKeyIndicator = kv20
        |""".stripMargin)
    write(dir, "Dev/site.config",
      """[DB]
        |table = tgt_dev
        |""".stripMargin)
    dir
  }

  test("cascade: site → additional (sorted) → environment overlay") {
    val dir = siteTree()
    val (prod, envP) = ConfigFiles.loadSite(dir, "prodnode")
    assert(envP == "Prod")
    assert(prod("DB")("table") == "tgt")
    // alphabetical precedence: 20_more overrides 10_more
    assert(prod("DB")("debugKeyIndicator") == "kv20")
    val (dev, envD) = ConfigFiles.loadSite(dir, "dev")
    assert(envD == "Dev")
    assert(dev("DB")("table") == "tgt_dev") // env overlay wins
    assert(dev("File")("sep") == "\t")      // \t escape decoded, inherited
  }

  test("per-load sections override globals (setupConfigMerge)") {
    val tree = ConfigFiles.parse(
      """[DB]
        |table = tgt
        |strategy = append
        |[File]
        |header = a, b
        |[load.2.DB]
        |strategy = upsert
        |primkey = a
        |[load.1.File]
        |skip = 3
        |""".stripMargin)
    val loads = ConfigFiles.resolveLoads(tree)
    assert(loads.length == 2)
    assert(loads(0)("File")("skip") == "3")
    assert(loads(0)("DB")("strategy") == "append")     // inherited
    assert(loads(1)("DB")("strategy") == "upsert")     // overridden
    assert(loads(1)("File")("header") == "a, b")       // inherited
  }

  test("unknown keys are configuration errors (checkHash contract)") {
    assert(ConfigFiles.toDbConfig(Map("tabel" -> "oops")).left.exists(
      _.contains("tabel")))
    assert(ConfigFiles.toTextFormat(Map("header" -> "a", "sepp" -> ";"))
      .left.exists(_.contains("sepp")))
    assert(ConfigFiles.toDbConfig(Map("strategy" -> "upsert")).left.exists(
      _.contains("primkey")))
    // incrementalStore's contract is only honored by the upsert path
    assert(ConfigFiles.toDbConfig(
      Map("strategy" -> "append", "incrementalStore" -> "true"))
      .left.exists(_.contains("incrementalStore")))
    assert(ConfigFiles.toDbConfig(
      Map("strategy" -> "upsert", "primkey" -> "k",
        "incrementalStore" -> "true"))
      .exists(_.incrementalStore))
    intercept[IllegalArgumentException] {
      ConfigFiles.parse("not a section or kv")
    }
  }

  test("noTransaction is refused by name: every table commit is atomic") {
    Seq("true", "false").foreach { v =>
      val refused = ConfigFiles.toDbConfig(Map("table" -> "t", "noTransaction" -> v))
      assert(refused.left.exists(e => e.contains("noTransaction") &&
        e.contains("every table commit is atomic")), refused)
    }
  }

  test("typed materialization covers strategies and addID") {
    val db = ConfigFiles.toDbConfig(Map(
      "table" -> "t", "strategy" -> "deleteInsert", "selector" -> "k1, k2",
      "addID.load_id" -> "L1", "keepContent" -> "true")).toOption.get
    assert(db.strategy == DeleteInsert(Seq("k1", "k2")))
    assert(db.addID == Map("load_id" -> "L1") && db.keepContent)
    val fmt = ConfigFiles.toTextFormat(Map(
      "header" -> "a, b", "poslen" -> "0-3, 3-7", "quoted" -> "true")).toOption.get
    assert(fmt.poslen == Seq((0, 3), (3, 7)) && fmt.quoted)
  }

  test("end-to-end: a load defined entirely by config files runs") {
    val dir = Files.createTempDirectory("graft-cfg-e2e-")
    write(dir, "site.config",
      """[config]
        |folderEnvironmentMapping. = Prod
        |[process]
        |retrySecondsErr = 5
        |[load.1.File]
        |header = k, v
        |targetHeader = key, val
        |sep = ;
        |skip = 1
        |[load.1.DB]
        |table = cfg_tbl
        |strategy = append
        |addID.src = cfgfile
        |""".stripMargin)
    val Right((loads, env)) = ConfigFiles.bootLoads(dir, "prod"): @unchecked
    assert(env == "Prod" && loads.length == 1)
    assert(loads.head.process.retrySecondsErr == 5) // global inherited

    val data = dir.resolve("in.csv")
    Files.write(data, "k;v\n1;x\n2;y\n".getBytes("UTF-8"))
    val table = dir.resolve("cfg_tbl").toString
    val res = LoadRunner.run(spark, Seq(data.toString), loads.head, table)
    assert(res.rows == 2 && res.errors.isEmpty)
    val out = ParquetTable.load(spark, table)
    assert(out.columns.sorted.toSeq == Seq("key", "src", "val"))
    assert(out.filter(out("src") === "cfgfile").count() == 2)
  }

  test("toLoad wires the config-expressible hooks (File.pm:470-489)") {
    val tree = Map(
      "File" -> Map(
        "header" -> "a, b",
        "sep" -> ";",
        "addtlProcessingTrigger" -> "a",
        "addtlProcessing" -> "upper(_field)",
        "lineProcessing.c" -> "concat(a, b)",
        "lineFilter" -> "b <> 'x'"),
      "DB" -> Map("strategy" -> "append"))
    val load = ConfigFiles.toLoad(tree).toOption.get
    assert(load.hooks.fieldHooks.keySet == Set("a"))
    assert(load.hooks.rowHook.nonEmpty)
    assert(!load.hooks.needPrevRow) // no _prev referenced
    val prev = ConfigFiles.toLoad(Map(
      "File" -> Map("header" -> "a", "sep" -> ";",
        "lineProcessing.p" -> "coalesce(_prev.a, '-')"),
      "DB" -> Map("strategy" -> "append"))).toOption.get
    assert(prev.hooks.needPrevRow)
    // a malformed hook expression fails load materialization loudly
    assert(ConfigFiles.toLoad(Map(
      "File" -> Map("header" -> "a", "sep" -> ";",
        "lineFilter" -> "b <> ("),
      "DB" -> Map("strategy" -> "append"))).isLeft)
  }

  test("end-to-end: config-declared hooks rewrite, assign with _prev, filter") {
    val dir = Files.createTempDirectory("graft-cfg-hooks-")
    write(dir, "site.config",
      """[config]
        |folderEnvironmentMapping. = Prod
        |[load.1.File]
        |header = k, name, grp
        |sep = ;
        |skip = 1
        |addtlProcessingTrigger = name
        |addtlProcessing = upper(_field)
        |lineProcessing.prev_k = coalesce(_prev.k, '-')
        |lineFilter = grp <> '2'
        |[load.1.DB]
        |table = hooked
        |strategy = append
        |""".stripMargin)
    val Right((loads, _)) = ConfigFiles.bootLoads(dir, "prod"): @unchecked
    val data = dir.resolve("in.csv")
    Files.write(data,
      "k;name;grp\n1;alpha;1\n2;beta;2\n3;gamma;1\n".getBytes("UTF-8"))
    val table = dir.resolve("hooked").toString
    val res = LoadRunner.run(spark, Seq(data.toString), loads.head, table)
    assert(res.errors.isEmpty)
    val out = ParquetTable.load(spark, table).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[String]("name"),
        r.getAs[String]("prev_k"))).sortBy(_._1)
    // row k=2 dropped by lineFilter; _prev computed BEFORE the filter, so
    // k=3 still sees k=2 as its previous row; names uppercased by the
    // field hook
    assert(out.toSeq == Seq(("1", "ALPHA", "-"), ("3", "GAMMA", "2")))
  }
}
