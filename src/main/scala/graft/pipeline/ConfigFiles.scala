package graft.pipeline

import graft.pipeline.Config._
import graft.sources.TextFormat
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Config-*file* loading: the reference boots by reading
  * `$ETL_WRAP_CONFIG_PATH/site.config`, then every `.config` file in the
  * `additional` directory in alphabetical order, then (for non-production,
  * via `folderEnvironmentMapping` on the script's home folder) an
  * environment-specific overlay of both (`Wrap.pm:24-60`), and finally
  * merges global → common → per-load with later-wins precedence
  * (`setupConfigMerge`, `Wrap/Common.pm:349-367`).
  *
  * The reference's config files are executable Perl; re-expressing them as
  * code-in-config is exactly what a typed engine must not do, so the
  * format here is declarative INI:
  *
  * {{{
  * [config]
  * folderEnvironmentMapping.dev = Dev
  * folderEnvironmentMapping.    = Prod
  * [DB]
  * table = tgt
  * strategy = upsert
  * primkey = k
  * [load.1.File]
  * header = a, b
  * sep = \t
  * }}}
  *
  * Sections `DB` / `File` / `process` materialize into the typed
  * [[Config]] case classes (unknown keys are configuration errors — the
  * `checkHash` contract, `Wrap/Common.pm:223-240`); `load.<n>.<section>`
  * defines per-load overrides resolved against the globals.
  */
object ConfigFiles {

  type Section = Map[String, String]
  /** section name → key/value map */
  type Tree = Map[String, Section]

  // ---- parsing ---------------------------------------------------------

  private val sectionRe = """\[([A-Za-z0-9_.:-]+)\]""".r

  /** Parse INI text: `[section]` headers, `key = value` lines, `#`/`;`
    * comments. Values keep internal whitespace; `\t`/`\n`/`\\` escapes are
    * decoded (separators are config values here). */
  def parse(text: String): Tree = {
    var current = ""
    val out = collection.mutable.LinkedHashMap.empty[String, collection.mutable.LinkedHashMap[String, String]]
    text.linesIterator.zipWithIndex.foreach { case (raw, i) =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#") && !line.startsWith(";")) {
        line match {
          case sectionRe(name) =>
            current = name
            out.getOrElseUpdate(current, collection.mutable.LinkedHashMap.empty)
          case kv if kv.contains("=") =>
            val Array(k, v) = kv.split("=", 2)
            out.getOrElseUpdate(current, collection.mutable.LinkedHashMap.empty)
              .update(k.trim, unescape(v.trim))
          case other =>
            throw new IllegalArgumentException(
              s"config parse error at line ${i + 1}: '$other' (expected [section] or key = value)")
        }
      }
    }
    out.map { case (s, kv) => s -> kv.toMap }.toMap
  }

  private def unescape(v: String): String =
    v.replace("\\t", "\t").replace("\\n", "\n").replace("\\\\", "\\")

  /** Per-section later-wins merge (the `%config=(%config,%overrides)`
    * idiom). */
  def merge(layers: Tree*): Tree =
    layers.foldLeft(Map.empty: Tree) { (acc, layer) =>
      (acc.keySet ++ layer.keySet).map { s =>
        s -> (acc.getOrElse(s, Map.empty) ++ layer.getOrElse(s, Map.empty))
      }.toMap
    }

  // ---- the reference's file cascade ------------------------------------

  /** Read `site.config` + the `additional` directory's `.config` files
    * (sorted) under `dir`, resolve the environment from
    * `folderEnvironmentMapping.<homedirNode>` (empty-suffix key =
    * production default), and overlay the environment subdirectory's own
    * `site.config` + additional files when the node maps to a
    * non-production environment — `Wrap.pm:24-49`.
    * @return (merged tree, resolved environment name) */
  def loadSite(dir: Path, homedirNode: String): (Tree, String) = {
    def read(p: Path): Tree =
      if (Files.exists(p)) parse(new String(Files.readAllBytes(p), "UTF-8"))
      else Map.empty
    def additional(base: Path): Seq[Tree] = {
      val d = base.resolve("additional")
      if (!Files.isDirectory(d)) Nil
      else Files.list(d).iterator.asScala.toSeq
        .filter(_.getFileName.toString.endsWith(".config"))
        .sortBy(_.getFileName.toString).map(read)
    }
    val base = merge(read(dir.resolve("site.config")) +: additional(dir): _*)
    val mapping = base.getOrElse("config", Map.empty)
    val envRaw = mapping.getOrElse(s"folderEnvironmentMapping.$homedirNode", "")
    val env =
      if (envRaw.nonEmpty) envRaw
      else mapping.getOrElse("folderEnvironmentMapping.", "Prod")
    val withEnv =
      if (envRaw.nonEmpty) {
        val envDir = dir.resolve(envRaw)
        merge(base +: read(envDir.resolve("site.config")) +: additional(envDir): _*)
      } else base
    (withEnv, env)
  }

  /** Resolve per-load trees: global `DB`/`File`/`process` sections are the
    * base layer under each load's `load.<n>.<section>` overrides
    * (`setupConfigMerge`'s common→load merge). Loads are returned in
    * numeric order of `<n>`. */
  def resolveLoads(tree: Tree): Seq[Tree] = {
    val loadRe = """load\.(\d+)\.([A-Za-z]+)""".r
    val byLoad = tree.keys.collect { case k @ loadRe(n, s) => (n.toInt, s, k) }
      .groupBy(_._1).toSeq.sortBy(_._1)
    val globals: Tree = tree.view.filterKeys(Set("DB", "File", "process")).toMap
    byLoad.map { case (_, entries) =>
      val overrides: Tree = entries.map { case (_, s, k) => s -> tree(k) }.toMap
      merge(globals, overrides)
    }
  }

  // ---- typed materialization (checkHash: unknown keys are errors) ------

  private def csv(v: String): Seq[String] =
    v.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def bool(s: Section, k: String, dflt: Boolean): Boolean =
    s.get(k).map(_.equalsIgnoreCase("true")).getOrElse(dflt)

  private def int(s: Section, k: String, dflt: Int): Int =
    s.get(k).map(_.toInt).getOrElse(dflt)

  private val dbKeys = Set("table", "strategy", "primkey", "selector",
    "valueCols", "keepContent", "cutoffYr2000",
    "debugKeyIndicator", "incrementalStore") // addID.* validated by prefix
  private val fileKeys = Set("header", "targetHeader", "sep", "sepIsRegex",
    "quoted", "skip", "skipUntil", "poslen", "eol", "encoding",
    "allowLinefeedInData", "thousandSep", "decimalSep", "normalizeNumerics",
    "dropEmptyFirstField",
    // hook expressions (lineProcessing.* validated by prefix)
    "addtlProcessingTrigger", "addtlProcessing", "lineFilter")
  private val processKeys = Set("skipHolidays", "skipWeekends",
    "skipForFirstBusinessDate", "holidaysDefault", "plannedUntil",
    "retrySecondsErr", "retrySecondsPlanned", "redoFile", "ignoreNoTest")

  def toDbConfig(s: Section): Either[String, DbConfig] = {
    val plain = s.view.filterKeys(!_.startsWith("addID.")).toMap
    // the reference's per-load switch off its transaction (K8): a table
    // commit here is one manifest rename, so there is none to switch off
    if (plain.contains("noTransaction"))
      return Left("DB key noTransaction is not supported: every table" +
        " commit is atomic (one manifest rename), whatever the load sets")
    Config.validateKeys(plain, dbKeys, "DB").flatMap { _ =>
      val strategy = s.getOrElse("strategy", "append").toLowerCase match {
        case "append"       => Right(Append)
        case "upsert"       => Right(Upsert(csv(s.getOrElse("primkey", ""))))
        case "deleteinsert" => Right(DeleteInsert(csv(s.getOrElse("selector", ""))))
        case "updateonly"   => Right(UpdateOnly(csv(s.getOrElse("primkey", "")),
                                                csv(s.getOrElse("valueCols", ""))))
        case "insertignoredups" => Right(InsertIgnoreDups(csv(s.getOrElse("primkey", ""))))
        case other          => Left(s"unknown DB strategy '$other'")
      }
      strategy.flatMap {
        case Upsert(keys) if keys.isEmpty => Left("upsert needs primkey")
        case InsertIgnoreDups(keys) if keys.isEmpty =>
          Left("insertIgnoreDups needs primkey")
        case st if bool(s, "incrementalStore", dflt = false) &&
            !st.isInstanceOf[Upsert] =>
          // the flag's contract (NULL fields preserve target values) is
          // only honored by the upsert path — accepting it elsewhere
          // would silently overwrite target columns with NULL
          Left("incrementalStore requires strategy = upsert")
        case DeleteInsert(sel) if sel.isEmpty => Left("deleteInsert needs selector")
        case st => Right(DbConfig(
          table = s.getOrElse("table", ""),
          strategy = st,
          keepContent = bool(s, "keepContent", dflt = false),
          addID = s.collect { case (k, v) if k.startsWith("addID.") =>
            k.stripPrefix("addID.") -> v },
          cutoffYr2000 = int(s, "cutoffYr2000", 60),
          debugKeyIndicator = s.getOrElse("debugKeyIndicator", ""),
          incrementalStore = bool(s, "incrementalStore", dflt = false)))
      }
    }
  }

  def toTextFormat(s0: Section): Either[String, TextFormat] = {
    val s = s0.view.filterKeys(!_.startsWith("lineProcessing.")).toMap
    Config.validateKeys(s, fileKeys, "File").flatMap { _ =>
      if (!s.contains("header")) Left("File section needs header")
      else Right(TextFormat(
        header = csv(s("header")),
        targetHeader = s.get("targetHeader").map(csv).getOrElse(Nil),
        sep = s.getOrElse("sep", "\t"),
        sepIsRegex = bool(s, "sepIsRegex", dflt = false),
        quoted = bool(s, "quoted", dflt = false),
        skip = int(s, "skip", 0),
        skipUntil = s.get("skipUntil"),
        poslen = s.get("poslen").map(csv(_).map { r =>
          val Array(a, b) = r.split("-", 2); (a.trim.toInt, b.trim.toInt)
        }).getOrElse(Nil),
        eol = s.getOrElse("eol", "\r?\n"),
        encoding = s.getOrElse("encoding", "UTF-8"),
        allowLinefeedInData = bool(s, "allowLinefeedInData", dflt = false),
        thousandSep = s.getOrElse("thousandSep", ","),
        decimalSep = s.getOrElse("decimalSep", "."),
        normalizeNumerics = bool(s, "normalizeNumerics", dflt = true),
        dropEmptyFirstField = bool(s, "dropEmptyFirstField", dflt = true)))
    }
  }

  // ---- config-expressible hooks (SURVEY §7.4-1) ------------------------

  /** `_field` placeholder → backtick-quoted reference to `column`. */
  private def substField(e: String, column: String): String =
    e.replaceAll("\\b_field\\b",
      java.util.regex.Matcher.quoteReplacement("`" + column + "`"))

  /** Attribute name of a `col("name")` column (the only Column shape
    * [[LoadRunner.applyHooks]] feeds a field hook). */
  private def columnName(c: org.apache.spark.sql.Column): String =
    org.apache.spark.sql.GraftColumnBridge.attributeName(c).getOrElse(c.toString)

  /** `functions.expr` defers parsing to analysis time (the Column wraps an
    * unparsed SQL node), so boot validation must force the parse itself. */
  private def parseCheck(what: String, e: String): Option[String] =
    try {
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e)
      None
    } catch { case ex: Exception =>
      Some(s"$what: cannot parse SQL expression '$e': ${ex.getMessage}") }

  /** The reference's eval-string hook surface (`Wrap/File.pm:470-489`)
    * re-expressed as Spark-SQL expression strings in the File section —
    * parsed by `expr()`, no new interpreter, validated at boot:
    *
    *  - `addtlProcessingTrigger` (column name or `*`) with
    *    `addtlProcessing` (scalar SQL): rewrite of the triggered field;
    *    `_field` is the field's current value, other columns are
    *    referenceable by name;
    *  - `lineProcessing.<col>` (row-level SQL): assigns `<col>` after the
    *    field hooks (the reference's lineProcessing also runs after the
    *    per-field loop); multiple assignments apply in column-name order;
    *    `_prev.<col>` reads the previous row in file order (W1);
    *  - `lineFilter` (boolean SQL): rows are kept where true — the
    *    declarative form of the reference's drop-a-row-by-emptying-%line.
    */
  def toHooks(s: Section): Either[String, LoadHooks] = {
    val trigger = s.get("addtlProcessingTrigger")
    val fieldExpr = s.get("addtlProcessing")
    val assigns = s.toSeq.collect {
      case (k, v) if k.startsWith("lineProcessing.") =>
        k.stripPrefix("lineProcessing.") -> v
    }.sortBy(_._1)
    val filter = s.get("lineFilter")
    if (fieldExpr.nonEmpty && trigger.isEmpty)
      Left("addtlProcessing needs addtlProcessingTrigger")
    else if (trigger.nonEmpty && fieldExpr.isEmpty)
      Left("addtlProcessingTrigger needs addtlProcessing")
    else {
      val parseErrors =
        fieldExpr.flatMap(e => parseCheck("addtlProcessing",
          substField(e, "__field__"))).toSeq ++
        assigns.flatMap { case (c, e) => parseCheck(s"lineProcessing.$c", e) } ++
        filter.flatMap(e => parseCheck("lineFilter", e))
      if (parseErrors.nonEmpty) Left(parseErrors.mkString("; "))
      else {
        val fieldHooks: Map[String, org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
          (trigger, fieldExpr) match {
            case (Some(t), Some(e)) =>
              Map(t -> ((c: org.apache.spark.sql.Column) =>
                org.apache.spark.sql.functions.expr(substField(e, columnName(c)))))
            case _ => Map.empty
          }
        val rowHook: Option[DataFrame => DataFrame] =
          if (assigns.isEmpty && filter.isEmpty) None
          else Some { df =>
            val assigned = assigns.foldLeft(df) { case (d, (c, e)) =>
              d.withColumn(c, org.apache.spark.sql.functions.expr(e)) }
            filter.fold(assigned)(f =>
              assigned.filter(org.apache.spark.sql.functions.expr(f)))
          }
        // `_prev` is only in scope for the row-level hooks (the struct is
        // added after field hooks run — same as the reference, where
        // @previousline is a lineProcessing affordance)
        val needPrev = (assigns.map(_._2) ++ filter.toSeq).exists(_.contains("_prev"))
        Right(LoadHooks(fieldHooks = fieldHooks, rowHook = rowHook,
          needPrevRow = needPrev))
      }
    }
  }

  def toProcessConfig(s: Section): Either[String, ProcessConfig] =
    Config.validateKeys(s, processKeys, "process").map { _ =>
      ProcessConfig(
        skipHolidays = s.getOrElse("skipHolidays", ""),
        skipWeekends = bool(s, "skipWeekends", dflt = false),
        skipForFirstBusinessDate = s.getOrElse("skipForFirstBusinessDate", ""),
        holidaysDefault = s.getOrElse("holidaysDefault", "AT"),
        plannedUntil = s.getOrElse("plannedUntil", ""),
        retrySecondsErr = int(s, "retrySecondsErr", 60),
        retrySecondsPlanned = int(s, "retrySecondsPlanned", 300),
        redoFile = bool(s, "redoFile", dflt = false),
        ignoreNoTest = bool(s, "ignoreNoTest", dflt = false))
    }

  /** One resolved load tree → a runnable [[LoadRunner.Load]]. The
    * config-expressible hook surface ([[toHooks]]: `addtlProcessing`,
    * `lineProcessing.<col>`, `lineFilter` — the reference's eval-string
    * hooks, `Wrap/File.pm:470-489`) is parsed from the File section and
    * wired in; richer hooks stay code via [[LoadRunner.Load]] directly. */
  def toLoad(tree: Tree): Either[String, LoadRunner.Load] =
    for {
      file <- Right(tree.getOrElse("File", Map.empty))
      fmt <- toTextFormat(file)
      hooks <- toHooks(file)
      db  <- toDbConfig(tree.getOrElse("DB", Map.empty))
      proc <- toProcessConfig(tree.getOrElse("process", Map.empty))
    } yield LoadRunner.Load(LoadRunner.TextSpec(fmt), db, hooks = hooks,
      process = proc)

  /** The whole boot sequence as one call: cascade the files under `dir`,
    * resolve per-load trees, materialize typed loads — fail-fast with the
    * offending section's error. */
  def bootLoads(dir: Path, homedirNode: String): Either[String, (Seq[LoadRunner.Load], String)] = {
    val (tree, env) = loadSite(dir, homedirNode)
    val loads = resolveLoads(tree)
    val resolved = loads.zipWithIndex.map { case (t, i) =>
      toLoad(t).left.map(e => s"load ${i + 1}: $e")
    }
    resolved.collectFirst { case Left(e) => e } match {
      case Some(e) => Left(e)
      case None    => Right((resolved.collect { case Right(l) => l }, env))
    }
  }
}
