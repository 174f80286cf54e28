package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.Coerce
import graft.sources.v2.GraftDataSourceV2
import javax.xml.namespace.NamespaceContext
import javax.xml.parsers.DocumentBuilderFactory
import javax.xml.xpath.{XPathConstants, XPathFactory}
import org.w3c.dom.NodeList
import java.io.ByteArrayInputStream

/** XML record scan (SURVEY.md §2.1 S5, reference `readXML`
  * `Wrap/File.pm:351-424`): select record nodes by `xpathRecordLevel`,
  * extract each declared column by its field XPath — **relative** XPaths
  * evaluate against the record node; **absolute** XPaths (leading `/`)
  * re-evaluate against the document root, yielding a constant
  * "broadcast" column (e.g. a header value repeated on every row).
  *
  * No XML datasource ships with Spark, so this is a compact JDK-only
  * implementation (`javax.xml` DOM + XPath) distributed one file per task
  * through the `graft-xml` DSv2 scan — the scan parallelizes across
  * files, which matches the reference's many-files shape. Each
  * field passes through the trim + normalizeNumerics pipeline like text
  * sources.
  */
case class XmlFormat(
    header: Seq[String],
    xpathRecordLevel: String,
    fieldXpath: Map[String, String],
    namespaces: Map[String, String] = Map.empty,
    thousandSep: String = ",",
    decimalSep: String = ".",
    normalizeNumerics: Boolean = true) extends SourceFormat {
  def columns: Seq[String] = header
}

object XmlSource {

  /** The `graft-xml` scan of `paths` in `fmt`: column pruning (only the
    * selected XPaths are evaluated) and `_file` pushdown reach the
    * parser. */
  def read(spark: SparkSession, paths: Seq[String], fmt: XmlFormat): DataFrame =
    GraftDataSourceV2.scan(spark, "graft-xml", paths, fmt)

  /** Projected parse for the DSv2 scan ([[graft.sources.v2]]): only the
    * `wanted` fields' XPaths are COMPILED and EVALUATED — pruning a column
    * skips its per-record XPath evaluation entirely, the dominant per-row
    * cost of this source. */
  private[sources] def parseProjected(path: String, content: Array[Byte],
      fmt: XmlFormat, wanted: Seq[String]): Iterator[Seq[Any]] = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(fmt.namespaces.nonEmpty)
    val doc = dbf.newDocumentBuilder().parse(new ByteArrayInputStream(content))
    val xpf = XPathFactory.newInstance()

    def newXPath() = {
      val xp = xpf.newXPath()
      if (fmt.namespaces.nonEmpty) xp.setNamespaceContext(new NamespaceContext {
        override def getNamespaceURI(prefix: String): String =
          fmt.namespaces.getOrElse(prefix, javax.xml.XMLConstants.NULL_NS_URI)
        override def getPrefix(uri: String): String =
          fmt.namespaces.find(_._2 == uri).map(_._1).orNull
        override def getPrefixes(uri: String): java.util.Iterator[String] =
          java.util.Collections.emptyIterator()
      })
      xp
    }

    val records = newXPath().compile(fmt.xpathRecordLevel)
      .evaluate(doc, XPathConstants.NODESET).asInstanceOf[NodeList]
    // compile only the XPaths of requested data columns
    val fieldExprs: Map[String, (Boolean, javax.xml.xpath.XPathExpression)] =
      wanted.filterNot(w => w == "_file" || w == "_lineno").map { h =>
        val xpath = fmt.fieldXpath.getOrElse(h,
          throw new IllegalArgumentException(s"no fieldXpath for column $h"))
        h -> (xpath.startsWith("/"), newXPath().compile(xpath))
      }.toMap

    (0 until records.getLength).iterator.map { i =>
      val node = records.item(i)
      wanted.map {
        case "_file"   => path
        case "_lineno" => (i + 1).toLong
        case h =>
          val (absolute, expr) = fieldExprs(h)
          val raw = if (absolute) expr.evaluate(doc) else expr.evaluate(node)
          val trimmed = if (raw == null) "" else raw.trim
          if (fmt.normalizeNumerics)
            Coerce.normalizeNumerics(trimmed, fmt.thousandSep, fmt.decimalSep)
          else trimmed
      }
    }
  }
}
