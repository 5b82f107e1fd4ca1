package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dims.Dims
import graft.functions.{Wcmp2Functions => F}

/** Offline deterministic link probe (SURVEY.md §7.4-5).
  *
  * The reference probes every URL live with a 30 s timeout inside rule
  * evaluation (`/root/reference/pywcmp/util.py:149-200`, called from
  * `kpi.py:313,386`) — an anti-pattern at any scale. Our engine makes the
  * probe a pluggable dimension: this default is the zero-egress stub (every
  * URL accessible; MIME = declared type, else `text/html`), which
  * reproduces the reference's 32/32 fixture golden. A real deployment
  * swaps in a probe table joined on href (see
  * [[graft.engine.DatasetRules.linkHealthJoin]]).
  */
trait LinkProbe {
  def accessible(href: Column): Column
  def mime(href: Column, declaredType: Column): Column
}
object OfflineLinkProbe extends LinkProbe {
  def accessible(href: Column): Column = lit(true)
  def mime(href: Column, declaredType: Column): Column =
    coalesce(declaredType, lit("text/html"))
}

/** Row-local probe seam backed by a MATERIALIZED probe dimension — the
  * production path: `(href, accessible, mime)` rows from
  * [[graft.sources.UrlSource.probeTable]] compiled into the plan as two
  * literal maps (K4/K5 then evaluate with zero joins and zero network).
  * Reference mime semantics kept: declared `type` first, probed
  * Content-Type as fallback (`/root/reference/pywcmp/wcmp2/kpi.py:
  * 347-352`). URLs the probe pass never reached count INACCESSIBLE — a
  * link cannot be claimed healthy unprobed. For probe dims too large to
  * ship in-plan, use [[graft.engine.DatasetRules.linkHealthJoin]]. */
case class MapLinkProbe(entries: Map[String, (Boolean, String)])
    extends LinkProbe {
  private val acc: Map[String, Boolean] =
    entries.map { case (k, (a, _)) => k -> a }
  private val mimes: Map[String, String] =
    entries.collect { case (k, (_, m)) if m != null => k -> m }
  def accessible(href: Column): Column =
    if (acc.isEmpty) lit(false)
    else coalesce(element_at(typedlit(acc), href), lit(false))
  def mime(href: Column, declaredType: Column): Column =
    if (mimes.isEmpty) declaredType
    else coalesce(declaredType, element_at(typedlit(mimes), href))
}
object MapLinkProbe {
  /** Hard ceiling on in-plan probe entries: beyond this a literal map is
    * a driver-memory + codegen-constant bomb (every task ships and
    * compiles the whole map). The guard fails FAST with the scale path
    * spelled out rather than OOMing mid-collect at 100 TB. */
  val MaxLiteralEntries: Int = 10000

  /** Collect a probe dimension table (href, accessible, mime) into an
    * in-plan probe. Only for literal-sized dims (<= [[MaxLiteralEntries]]
    * rows, enforced via a limit-probe before the collect); larger probe
    * dims must go through the join path,
    * [[graft.engine.DatasetRules.linkHealthJoin]]. */
  def fromTable(probeTable: org.apache.spark.sql.DataFrame): MapLinkProbe = {
    val rows = probeTable.select("href", "accessible", "mime")
      .limit(MaxLiteralEntries + 1).collect()
    require(rows.length <= MaxLiteralEntries,
      s"probe dim exceeds $MaxLiteralEntries entries - an in-plan literal " +
        "map would bloat the driver and generated code; join it instead " +
        "via graft.engine.DatasetRules.linkHealthJoin")
    MapLinkProbe(rows
      .map(r => r.getString(0) -> (r.getBoolean(1), r.getString(2))).toMap)
  }
}

/** One KPI compiled to Catalyst expressions: unlike ETS there is no early
  * return — every sub-check always evaluates and contributes a point and/or
  * a comment (`/root/reference/pywcmp/wcmp2/kpi.py:82-490`). */
case class KpiRule(name: String, kpiId: String, title: Column,
                   total: Column, score: Column, comments: Column) {
  def id: Column = lit(s"http://wis.wmo.int/spec/wcmp/2/kpi/core/$kpiId")
  /** per-test percentage: banker's rounding like Python `round`
    * (`kpi.py:535-538`, ROUND=3); null when total == 0. */
  def percentage: Column =
    when(total === 0, lit(null).cast(DoubleType))
      .otherwise(bround(score.cast(DoubleType) / total * 100, 3))
  def result: Column = struct(
    id.as("id"), title.as("title"),
    total.cast(IntegerType).as("total"), score.cast(IntegerType).as("score"),
    comments.as("comments"), percentage.as("percentage"))
}

/** The 7 KPIs from `/root/reference/pywcmp/wcmp2/kpi.py:82-490`, in the
  * reference's `dir()` alphabetical execution order (`kpi.py:503-508`):
  * contacts, description, graphic_overview, links_health, pids,
  * time_intervals, title. Known reference bugs are reproduced bit-for-bit
  * (SURVEY.md §7.4-6): the kpi_contacts wrong-variable email check, the
  * kpi_title bulletin −1 penalty, kpi_pids score-exceeds-total, and the
  * record-title-overwrites-KPI-title quirk.
  */
object KpiRules {

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)

  private def point(cond: Column): Column =
    when(coalesce(cond, lit(false)), 1).otherwise(0)

  private def commentIf(bad: Column, msg: Column): Column =
    when(coalesce(bad, lit(false)), msg)

  /** kpi_title — Good quality title, total 8 (`kpi.py:82-163`).
    * The word split and the four scalar title facts (all-alnum words,
    * sentence case of the acronym-stripped title, acronym count, bulletin
    * header) are fields of the TitleWords kernel struct. */
  def title(r: RecordCols): KpiRule = {
    val t = prop(r, "title")
    val words = r.titleFacts.getField("words")
    val misspelled = r.titleMisspelled
    val allAlnum = r.titleFacts.getField("all_alnum")
    val capOk = r.titleFacts.getField("cap_ok")
    val nAcronyms = r.titleFacts.getField("n_acronyms")
    val hasBulletin =
      coalesce(r.titleFacts.getField("has_bulletin"), lit(false))
    val p1 = point(t.isNotNull) // 'Title is present' (kpi.py:102-103)
    val p2 = point(size(words) >= 3)
    val p3 = point(length(t) <= 150)
    val p4 = point(allAlnum)
    val p5 = point(capOk)
    val p6 = point(nAcronyms <= 3)
    // bulletin header: +1 if absent, −1 (not 0) if present (kpi.py:147-153)
    val p7 = when(hasBulletin, -1).otherwise(1)
    val p8 = point(size(misspelled) === 0)
    val comments = array_compact(array(
      commentIf(size(words) < 3, lit("Title has less than 3 words")),
      commentIf(length(t) > 150, lit("Title has more than 150 characters")),
      commentIf(!allAlnum, lit("Title contains non-printable characters")),
      commentIf(!capOk, lit("Title is not sentence case")),
      commentIf(nAcronyms > 3, lit("Title has more than 3 acronyms")),
      commentIf(hasBulletin, lit("Title contains bulletin header")),
      commentIf(size(misspelled) > 0,
        concat(lit("Title contains spelling errors "),
               misspelled.cast(StringType)))))
    // quirk: the emitted `title` field is the RECORD's title — the local
    // variable is overwritten at kpi.py:100 before the return.
    KpiRule("title", "good_quality_title", t,
      lit(8), p1 + p2 + p3 + p4 + p5 + p6 + p7 + p8, comments)
  }

  /** kpi_description — Good quality description, total 4
    * (`kpi.py:165-216`). HTML detection approximates BeautifulSoup
    * `.find()` truthiness with a tag regex (SURVEY.md §2.7). */
  def description(r: RecordCols): KpiRule = {
    val bulletinRe = "[A-Z]{4}\\d{2}[\\s_]*[A-Z]{4}"
    val d = prop(r, "description")
    val misspelled = r.descMisspelled
    val lenOk  = length(d).between(16, 2048)
    val hasHtml = coalesce(d.rlike("<[a-zA-Z!/][^>]*>"), lit(false))
    val hasBulletin = coalesce(d.rlike(bulletinRe), lit(false))
    val score = point(lenOk) + point(!hasHtml) + point(!hasBulletin) +
      point(size(misspelled) === 0)
    val comments = array_compact(array(
      commentIf(d.isNull, lit("Description is null")),
      commentIf(!lenOk,
        lit("Description is not between 16 and 2048 characters")),
      commentIf(hasHtml, lit("Description contains markup")),
      commentIf(hasBulletin, lit("Description contains bulletin header")),
      commentIf(size(misspelled) > 0,
        concat(lit("Description contains spelling errors "),
               misspelled.cast(StringType)))))
    KpiRule("description", "good_quality_description",
      lit(": Good quality description"), lit(4), score, comments)
  }

  /** kpi_time_intervals — total 3 per gathered interval (`kpi.py:218-277`).
    * Interval endpoints compare lexicographically as strings, exactly like
    * the reference (`kpi.py:260`). */
  def timeIntervals(r: RecordCols): KpiRule = {
    val time = r.rec.getField("time")
    val additional =
      r.rec.getField("additionalExtents").getField("temporal")
    val intervals = filter(array(time, additional),
      x => x.isNotNull && x.getField("interval").isNotNull)
    def perInterval(ti: Column): Column = {
      val iv = ti.getField("interval")
      val begin = get(iv, lit(0))
      val end   = get(iv, lit(1))
      val orderOk = (!array_contains(iv, "..") && begin <= end) ||
        (end === "..")
      val notFullyOpen = !(begin === ".." && end === "..")
      point(orderOk) + point(notFullyOpen) +
        point(ti.getField("resolution").isNotNull)
    }
    val timeIsNull = time.isNull
    val total = when(timeIsNull, 0).otherwise(size(intervals) * 3)
    val score = when(timeIsNull, 0).otherwise(
      aggregate(intervals, lit(0), (acc, ti) => acc + perInterval(ti)))
    // comments in the reference's per-interval, per-check order
    val comments = when(timeIsNull, array(lit("time is null; no KPI check")))
      .otherwise(array_compact(flatten(transform(intervals, ti => {
        val iv = ti.getField("interval")
        val orderOk = (!array_contains(iv, "..") &&
          get(iv, lit(0)) <= get(iv, lit(1))) || (get(iv, lit(1)) === "..")
        array(
          commentIf(!orderOk,
            lit("Begin must be less than or equal to the end or open")),
          commentIf(get(iv, lit(0)) === ".." && get(iv, lit(1)) === "..",
            lit("Temporal interval cannot be fully open")),
          commentIf(ti.getField("resolution").isNull,
            lit("No temporal resolution found")))
      }))))
    KpiRule("time_intervals", "time_intervals", lit("Time intervals"),
      total, score, comments)
  }

  /** kpi_graphic_overview — total 3 per `rel == 'preview'` link
    * (`kpi.py:279-328`). */
  def graphicOverview(r: RecordCols, probe: LinkProbe): KpiRule = {
    val previews = r.previews
    def mimeOk(l: Column): Column = {
      val declared = coalesce(l.getField("type"), lit(""))
      declared.isInCollection(Dims.webImageMimes) &&
        probe.mime(l.getField("href"), l.getField("type"))
          .isInCollection(Dims.webImageMimes)
    }
    val total = size(previews) * 3
    val score = aggregate(previews, lit(0), (acc, l) =>
      acc + 1 + point(mimeOk(l)) + point(probe.accessible(l.getField("href"))))
    val comments = array_compact(flatten(transform(previews, l => array(
      commentIf(!mimeOk(l), concat(lit("MIME type "),
        coalesce(l.getField("type"), lit("")), lit(" not a web image"))),
      commentIf(!probe.accessible(l.getField("href")),
        concat(lit("URL not accessible: "), l.getField("href")))))))
    KpiRule("graphic_overview", "graphic_overview_for_metadata_records",
      lit("Graphic overview for metadata records"), total, score, comments)
  }

  /** kpi_links_health — total 2 per http(s) URL in the pooled link set
    * (`kpi.py:330-405`): record links, then per theme its concept `url`s
    * and its scheme, then contact links. */
  def linksHealth(r: RecordCols, probe: LinkProbe): KpiRule = {
    val httpLinks = r.httpLinks
    def typeOk(p: Column): Column =
      probe.mime(p.getField("href"), p.getField("type"))
        .isInCollection(Dims.validMimes)
    val total = size(httpLinks) * 2
    val score = aggregate(httpLinks, lit(0), (acc, p) =>
      acc + point(probe.accessible(p.getField("href"))) + point(typeOk(p)))
    val comments = array_compact(flatten(transform(httpLinks, p => array(
      commentIf(!probe.accessible(p.getField("href")),
        concat(lit("URL not accessible: "), p.getField("href"))),
      commentIf(!typeOk(p), concat(lit("invalid link type "),
        coalesce(probe.mime(p.getField("href"), p.getField("type")),
                 lit("None"))))))))
    KpiRule("links_health", "links_health", lit("Links health"),
      total, score, comments)
  }

  /** kpi_contacts — total 3 (`kpi.py:407-451`). Reference bug reproduced:
    * the email loop reads `contact` — the LAST contact of the first loop —
    * not `host_contact` (`kpi.py:441`). */
  def contacts(r: RecordCols): KpiRule = {
    val cs = prop(r, "contacts")
    val hosts = filter(cs,
      c => coalesce(array_contains(c.getField("roles"), "host"), lit(false)))
    val host = F.lastElem(hosts)
    val lastContact = F.lastElem(cs)
    val hostFound = host.isNotNull
    val instructionsOk = host.getField("contactInstructions").isNotNull
    val emailFound = coalesce(
      exists(lastContact.getField("emails"),
             e => e.getField("value").isNotNull), lit(false))
    val score = point(hostFound) +
      point(hostFound && instructionsOk) + point(hostFound && emailFound)
    val comments = array_compact(array(
      commentIf(!hostFound, lit("No host contact found")),
      commentIf(hostFound && !instructionsOk,
                lit("No host contact instructions found")),
      commentIf(hostFound && !emailFound,
                lit("No host contact email found"))))
    KpiRule("contacts", "contacts", lit("Contacts"), lit(3), score, comments)
  }

  /** kpi_pids — Persistent identifiers (`kpi.py:453-490`). `externalIds`
    * key presence via raw JSON keys; reference quirk kept: the cite-as
    * point is scored even when total == 0, so score may exceed total. */
  def pids(r: RecordCols): KpiRule = {
    val present =
      coalesce(array_contains(r.propsKeys, "externalIds"), lit(false))
    val schemeOk = coalesce(exists(prop(r, "externalIds"),
      e => e.getField("scheme").isin("doi", "ark", "hdl")), lit(false))
    val citeAs = coalesce(exists(r.rec.getField("links"),
      l => l.getField("rel") === "cite-as"), lit(false))
    val total = when(present, 3).otherwise(0)
    val score = when(present, lit(1) + point(schemeOk)).otherwise(0) +
      point(citeAs)
    val comments = array_compact(array(
      commentIf(present && !schemeOk, lit("No DOI/ARK/HDL schema found"))))
    KpiRule("pids", "persistent_identifiers", lit("Persistent identifiers"),
      total, score, comments)
  }

  /** All 7 KPIs in the reference's alphabetical execution order
    * (`kpi.py:503-508`). */
  def catalog(r: RecordCols,
              probe: LinkProbe = OfflineLinkProbe): Seq[KpiRule] = Seq(
    contacts(r),
    description(r),
    graphicOverview(r, probe),
    linksHealth(r, probe),
    pids(r),
    timeIntervals(r),
    title(r))

  /** KPI summary struct `(total, score, percentage, grade, comments)`
    * from a kpi-tests array ATTRIBUTE (`kpi.py:559-589`), shared by the
    * full-catalog path ([[graft.engine.Validator.validate]]) and the
    * `--kpi` single-selection path ([[graft.engine.Reports.selectKpi]]).
    * Reproduces the summary comments-clobber bug (`kpi.py:573-576`): the
    * dict ends up holding ALL fields of the LAST test that had comments. */
  def summaryOf(tests: Column): Column = {
    val total = aggregate(tests, lit(0), (acc, t) => acc + t.getField("total"))
    val score = aggregate(tests, lit(0), (acc, t) => acc + t.getField("score"))
    val pct = when(total === 0, lit(null).cast(DoubleType))
      .otherwise(bround(score.cast(DoubleType) / total * 100, 3))
    val lastCommented = {
      val flagged = transform(tests,
        t => when(size(t.getField("comments")) > 0, t))
      val compacted = array_compact(flagged)
      get(compacted, size(compacted) - 1)
    }
    struct(total.as("total"), score.as("score"), pct.as("percentage"),
      grade(pct).as("grade"), lastCommented.as("comments"))
  }

  /** Letter grade (`kpi.py:593-619`): A≥80, B≥65, C≥50, D≥35, E≥20, else
    * the numeric percentage itself ('F' is unreachable in the reference);
    * null → null. Out-of-range (<0 or >100) raises ValueError there — here
    * it yields the sentinel below and a dataset-level violation row. */
  val GradeRangeError = "ERROR:invalid percentage"
  def grade(percentage: Column): Column =
    when(percentage.isNull, lit(null).cast(StringType))
      .when(percentage > 100 || percentage < 0, GradeRangeError)
      .when(percentage >= 80, "A")
      .when(percentage >= 65, "B")
      .when(percentage >= 50, "C")
      .when(percentage >= 35, "D")
      .when(percentage >= 20, "E")
      .otherwise(percentage.cast(StringType))
}
