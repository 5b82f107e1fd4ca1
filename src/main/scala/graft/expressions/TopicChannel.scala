package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String

/** Native kernel for the level-wise WIS2 topic-channel walk (the
  * declarative walk it replaced is kept in src/test as
  * DeclarativeReference, parity-pinned in OptimizationParitySpec).
  *
  * Why a kernel: the declarative walk references `split(channel, "/")`
  * ~12 times across its level checks, and it executes INSIDE the links
  * rule's per-link `transform` lambda — higher-order functions are
  * CodegenFallback, so every reference re-evaluates the split (plus the
  * per-level In/rlike machinery) interpreted, per link per row. The r6
  * stack profile showed this as the dominant interpreted-eval cost
  * (UTF8String.split + String.split ~9% of active executor samples).
  * Here the channel splits once and the level checks are plain JVM
  * branches over prebuilt hash sets.
  *
  * Null semantics: the declarative form is total-boolean — a null
  * channel (or any null-propagating level access) always lands in the
  * CaseWhen's `otherwise(false)` arm, so the composition returns false,
  * never null (OptimizationParitySpec asserts this). The kernel is
  * therefore non-nullable with null input -> false. */
case class TopicChannelValid(child: Expression,
    subTable: Option[Set[String]]) extends StringInputExpr {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    checkInput(child.eval(input).asInstanceOf[UTF8String])

  // sub-discipline roots precomputed once per expression instance (the
  // per-call filter would otherwise run per link per row)
  @transient private lazy val roots: Set[String] =
    subTable.map(_.filter(!_.contains("/"))).getOrElse(Set.empty)

  /** entry point shared by interpreted eval and generated code */
  def checkInput(s: UTF8String): Boolean =
    s != null && TopicChannelValid.check(s.toString, subTable, roots)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val ref = ctx.addReferenceObj("topicWalk", this,
      classOf[TopicChannelValid].getName)
    ev.copy(code = code"""
      ${c.code}
      final boolean ${ev.value} =
        $ref.checkInput(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "topic_channel_valid"
}

object TopicChannelValid {
  import graft.dims.Dims

  private lazy val centreSet = toSet(Dims.centreIds)
  private lazy val policySet = toSet(Dims.dataPolicies)
  private lazy val esdSet = toSet(Dims.earthSystemDisciplines)
  private def toSet(xs: Seq[String]): java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](math.max(16, xs.size * 2))
    xs.foreach(s.add)
    s
  }

  /** `^[a-z0-9][a-z0-9-]*$` (the kebab token grammar) without regex. */
  private def isKebab(s: String): Boolean = {
    val n = s.length
    if (n == 0) return false
    val c0 = s.charAt(0)
    if (!((c0 >= 'a' && c0 <= 'z') || (c0 >= '0' && c0 <= '9'))) return false
    var i = 1
    while (i < n) {
      val c = s.charAt(i)
      if (!((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '-'))
        return false
      i += 1
    }
    true
  }

  private def allKebabFrom(t: Array[String], from: Int): Boolean = {
    var i = from
    while (i < t.length) {
      if (!isKebab(t(i))) return false
      i += 1
    }
    true
  }

  /** The declarative level walk, split-once:
    * levels 1-3 literal origin|cache/a/wis2, level 4 centre dim (-test
    * allowed), level 5 notification type; `data` -> policy + discipline
    * dims then sub-discipline table/charset; metadata|reports -> charset.
    * Indices below are 0-based (the declarative slice()s are 1-based). */
  def check(ch: String, subTable: Option[Set[String]]): Boolean =
    check(ch, subTable,
      subTable.map(_.filter(!_.contains("/"))).getOrElse(Set.empty))

  private[expressions] def check(ch: String, subTable: Option[Set[String]],
      roots: Set[String]): Boolean = {
    val t = ch.split("/", -1)
    val lvl = t.length
    if (lvl < 5) return false // typeOk needs level 5; null-arm -> false
    val typeOk = t(4) match {
      case "data" =>
        lvl >= 7 && policySet.contains(t(5)) && esdSet.contains(t(6)) && {
          val charsetOk = allKebabFrom(t, 7)
          subTable match {
            case None => charsetOk
            case Some(closure) =>
              charsetOk && {
                val covered = roots.nonEmpty && roots.contains(t(6))
                if (!covered) true
                else {
                  // discipline-rooted sub path t(6)..t(lvl-1)
                  val sub = java.util.Arrays.copyOfRange(t, 6, lvl)
                  val expIdx = sub.indexOf("experimental")
                  val path =
                    if (expIdx >= 0) sub.take(expIdx).mkString("/")
                    else sub.mkString("/")
                  closure.contains(path)
                }
              }
          }
        }
      case "metadata" | "reports" => allKebabFrom(t, 5)
      case _ => false
    }
    typeOk &&
      (t(0) == "origin" || t(0) == "cache") && t(1) == "a" && t(2) == "wis2" &&
      (centreSet.contains(t(3)) || t(3).endsWith("-test"))
  }

  /** Column builder; `subTable` defaults to the dims-dir override, like
    * the declarative form. */
  def topicChannelValid(c: Column,
      subTable: Option[Set[String]] = Dims.subDisciplineTable()): Column = {
    import org.apache.spark.sql.graft.shims
    shims.column(TopicChannelValid(shims.expression(c), subTable))
  }
}
