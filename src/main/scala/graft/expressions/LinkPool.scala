package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The K5 link-health pool (`/root/reference/pywcmp/wcmp2/kpi.py` links
  * KPI): every URL the record carries — record links (href + type), theme
  * concept urls, theme schemes, contact links — as
  * `array<struct<href,type>>`, computed in one native walk over the
  * already-parsed struct arrays.
  *
  * Replaces an interpreted transform/filter/flatten/concat chain (kept in
  * src/test as the DeclarativeReference pool, parity-tested in
  * OptimizationParitySpec) with its exact semantics, including the
  * quirks the declarative version exhibits:
  *
  *  - only entries whose href is non-null and starts with "http" enter
  *    the pool (the declarative version's final filter — null link
  *    elements and null hrefs/schemes drop out there);
  *  - if ANY theme element is null or has null `concepts`, the ENTIRE
  *    theme contribution vanishes (`concat(null, ...)` nulls that
  *    element, and `flatten` of an array containing null is null, which
  *    the declarative pool coalesces to empty);
  *  - every theme contributes its `scheme` as a pool href candidate;
  *  - null contact elements and null contact `links` contribute nothing
  *    (coalesce-to-empty).
  */
case class LinkPoolExpr(first: Expression, second: Expression,
                        third: Expression) extends TernaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("href", StringType), StructField("type", StringType))),
    containsNull = false)

  override def nullable: Boolean = false
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val links = first.eval(input)
    val themes = second.eval(input)
    val contacts = third.eval(input)
    LinkPoolExpr.pool(
      links.asInstanceOf[ArrayData], themes.asInstanceOf[ArrayData],
      contacts.asInstanceOf[ArrayData],
      linkHrefIdx, linkTypeIdx, linkArity,
      themeConceptsIdx, themeSchemeIdx, themeArity,
      conceptUrlIdx, conceptArity,
      contactLinksIdx, contactArity, contactLinkHrefIdx, contactLinkArity)
  }

  // field ordinals resolved from the children's analyzed types (robust to
  // schema evolution; mirrors Wcmp2Schema)
  private def elem(e: Expression): StructType =
    e.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val linkSt = elem(first)
  private lazy val linkHrefIdx = linkSt.fieldIndex("href")
  private lazy val linkTypeIdx = linkSt.fieldIndex("type")
  private lazy val linkArity = linkSt.size
  private lazy val themeSt = elem(second)
  private lazy val themeConceptsIdx = themeSt.fieldIndex("concepts")
  private lazy val themeSchemeIdx = themeSt.fieldIndex("scheme")
  private lazy val themeArity = themeSt.size
  private lazy val conceptSt = themeSt(themeConceptsIdx).dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val conceptUrlIdx = conceptSt.fieldIndex("url")
  private lazy val conceptArity = conceptSt.size
  private lazy val contactSt = elem(third)
  private lazy val contactLinksIdx = contactSt.fieldIndex("links")
  private lazy val contactArity = contactSt.size
  private lazy val contactLinkSt = contactSt(contactLinksIdx).dataType
    .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]
  private lazy val contactLinkHrefIdx = contactLinkSt.fieldIndex("href")
  private lazy val contactLinkArity = contactLinkSt.size

  override def checkInputDataTypes() = {
    def arrayOfStruct(e: Expression): Boolean = e.dataType match {
      case ArrayType(_: StructType, _) => true
      case _ => false
    }
    children.zipWithIndex.find { case (c, _) => !arrayOfStruct(c) } match {
      case None =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case Some((c, i)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .DataTypeMismatch(errorSubClass = "UNEXPECTED_INPUT_TYPE",
            messageParameters = Map("paramIndex" -> (i + 1).toString,
              "requiredType" -> "\"ARRAY<STRUCT>\"",
              "inputSql" -> c.sql, "inputType" -> c.dataType.sql))
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val refTerm = ctx.addReferenceObj("linkPoolExpr", this,
      classOf[LinkPoolExpr].getName)
    val l = first.genCode(ctx); val t = second.genCode(ctx)
    val c = third.genCode(ctx)
    ev.copy(code =
      code"""
        ${l.code}
        ${t.code}
        ${c.code}
        ArrayData ${ev.value} = $refTerm.poolOf(
          ${l.isNull} ? null : ${l.value},
          ${t.isNull} ? null : ${t.value},
          ${c.isNull} ? null : ${c.value});
      """, isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  /** codegen entry bound to this expression instance (ordinals cached). */
  def poolOf(links: ArrayData, themes: ArrayData,
             contacts: ArrayData): ArrayData =
    LinkPoolExpr.pool(links, themes, contacts,
      linkHrefIdx, linkTypeIdx, linkArity,
      themeConceptsIdx, themeSchemeIdx, themeArity,
      conceptUrlIdx, conceptArity,
      contactLinksIdx, contactArity, contactLinkHrefIdx, contactLinkArity)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression) =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "link_pool"
}

object LinkPoolExpr {

  private val HTTP = UTF8String.fromString("http")

  /** the declarative pool's final filter: keep only non-null hrefs
    * starting with "http" */
  private def addIfHttp(out: ArrayBuffer[Any], href: UTF8String,
                        t: UTF8String): Unit =
    if (href != null && href.startsWith(HTTP)) {
      val a = new Array[Any](2); a(0) = href; a(1) = t
      out += new GenericInternalRow(a)
    }

  // scalastyle:off parameter.number
  private[expressions] def pool(
      links: ArrayData, themes: ArrayData, contacts: ArrayData,
      linkHrefIdx: Int, linkTypeIdx: Int, linkArity: Int,
      themeConceptsIdx: Int, themeSchemeIdx: Int, themeArity: Int,
      conceptUrlIdx: Int, conceptArity: Int,
      contactLinksIdx: Int, contactArity: Int,
      contactLinkHrefIdx: Int, contactLinkArity: Int): ArrayData = {
    // scalastyle:on parameter.number
    val out = new ArrayBuffer[Any](8)
    if (links != null) {
      var i = 0
      while (i < links.numElements()) {
        if (!links.isNullAt(i)) {
          val l = links.getStruct(i, linkArity)
          addIfHttp(out,
            if (l.isNullAt(linkHrefIdx)) null else l.getUTF8String(linkHrefIdx),
            if (l.isNullAt(linkTypeIdx)) null else l.getUTF8String(linkTypeIdx))
        }
        i += 1
      }
    }
    if (themes != null) {
      // declarative-parity poisoning: any null theme / null concepts
      // nulls the flattened theme contribution entirely
      var poisoned = false
      var i = 0
      while (i < themes.numElements() && !poisoned) {
        if (themes.isNullAt(i)) poisoned = true
        else if (themes.getStruct(i, themeArity).isNullAt(themeConceptsIdx))
          poisoned = true
        i += 1
      }
      if (!poisoned) {
        i = 0
        while (i < themes.numElements()) {
          val t = themes.getStruct(i, themeArity)
          val concepts = t.getArray(themeConceptsIdx)
          var j = 0
          while (j < concepts.numElements()) {
            if (!concepts.isNullAt(j)) {
              val c = concepts.getStruct(j, conceptArity)
              if (!c.isNullAt(conceptUrlIdx))
                addIfHttp(out, c.getUTF8String(conceptUrlIdx), null)
            }
            j += 1
          }
          if (!t.isNullAt(themeSchemeIdx))
            addIfHttp(out, t.getUTF8String(themeSchemeIdx), null)
          i += 1
        }
      }
    }
    if (contacts != null) {
      var i = 0
      while (i < contacts.numElements()) {
        if (!contacts.isNullAt(i)) {
          val c = contacts.getStruct(i, contactArity)
          if (!c.isNullAt(contactLinksIdx)) {
            val clinks = c.getArray(contactLinksIdx)
            var j = 0
            while (j < clinks.numElements()) {
              if (!clinks.isNullAt(j)) {
                val l = clinks.getStruct(j, contactLinkArity)
                addIfHttp(out,
                  if (l.isNullAt(contactLinkHrefIdx)) null
                  else l.getUTF8String(contactLinkHrefIdx), null)
              }
              j += 1
            }
          }
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  def linkPool(links: Column, themes: Column, contacts: Column): Column = {
    import org.apache.spark.sql.graft.shims
    shims.column(LinkPoolExpr(shims.expression(links),
      shims.expression(themes), shims.expression(contacts)))
  }
}
