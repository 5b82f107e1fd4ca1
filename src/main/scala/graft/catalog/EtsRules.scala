package graft.catalog

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dims.Dims
import graft.functions.{GeoFunctions, Wcmp2Functions => F}

/** Columns every row-local rule is built from, all materialized by
  * [[graft.engine.Validator.validate]] behind its two Generate barriers so
  * the optimizer can never re-inline a parse or a kernel per reference.
  *
  * From the single [[graft.expressions.JsonFacts]] parse of `content`:
  * `rec`, the payload struct (`from_json(content, Wcmp2Schema.root)`
  * parity); `geometry`, the raw `$.geometry` JSON slice (variable nesting
  * depth, see [[GeoFunctions]]); `geoPositions`, its pre-flattened
  * coordinate list; `propsKeys`, the top-level keys of the raw
  * `$.properties` object — the presence-vs-null channel `from_json`
  * cannot provide (SURVEY.md §7.4-1).
  *
  * From the per-row kernels over `rec`: `titleMisspelled` and
  * `descMisspelled` ([[graft.expressions.Misspelled]]), `titleFacts` (the
  * K1 [[graft.expressions.TitleWords]] struct), `httpLinks` (the K5
  * [[graft.expressions.LinkPoolExpr]] pool) and `previews` (the K4
  * [[graft.expressions.Previews]] list). */
case class RecordCols(rec: Column, geometry: Column, geoPositions: Column,
                      propsKeys: Column, titleMisspelled: Column,
                      descMisspelled: Column, titleFacts: Column,
                      httpLinks: Column, previews: Column)

/** One ETS conformance test compiled to Catalyst predicates.
  *
  * `fail` / `failMessage` are evaluated per row; `code` is
  * FAILED iff `fail`, else PASSED (the reference never emits SKIPPED in
  * this version, `/root/reference/pywcmp/wcmp2/ets.py:106-108`).
  * `passMessage` carries the constant message some tests attach to PASSED
  * results (e.g. `ets.py:210`). `fail` is kept separate from
  * `failMessage.isNotNull` because of the `extent_geospatial` quirk: its
  * FAILED status carries no message at all (`messsage` typo, `ets.py:256`).
  */
case class EtsRule(name: String, testId: String, fail: Column,
                   failMessage: Column, passMessage: Column = lit(null)) {
  def id: Column = lit(s"http://wis.wmo.int/spec/wcmp/2/conf/core/$testId")
  def code: Column =
    when(coalesce(fail, lit(false)), "FAILED").otherwise("PASSED")
  def message: Column =
    when(coalesce(fail, lit(false)), failMessage).otherwise(passMessage)
  def result: Column =
    struct(id.as("id"), code.as("code"), message.as("message"))
}

/** The 12 counted ETS tests + the gating schema-validation test, compiled
  * from `/root/reference/pywcmp/wcmp2/ets.py:116-489`.
  *
  * Reference execution order is `dir()` alphabetical order of the
  * `test_requirement_*` method names (`ets.py:87-93`); [[catalog]] preserves
  * it. Each early-return Python chain becomes an ordered
  * `when(cond1,msg1).when(cond2,msg2)…` chain — `when` short-circuits in
  * order exactly like the Python early returns.
  */
object EtsRules {

  private def prop(r: RecordCols, field: String): Column =
    r.rec.getField("properties").getField(field)

  // --- conformance / extent_temporal / title / description: always PASSED
  // (delegated to the schema gate, ets.py:202-213, 260-297)
  private def constantPass(r: RecordCols, name: String): EtsRule =
    EtsRule(name, name, lit(false), lit(null),
      passMessage = lit("Passes given schema is compliant/valid"))

  /** identifier (`ets.py:150-200`) */
  def identifier(r: RecordCols): EtsRule = {
    val id    = r.rec.getField("id")
    val toks  = split(id, ":")
    val local = F.lastElem(toks)
    val centre = get(toks, lit(3))
    val msg =
      when(size(toks) < 5, "identifier does not have at least five tokens")
        .when(!id.startsWith("urn:wmo:md:"), "bad prefix")
        .when(local.contains(" "), "spaces in local identifier")
        .when(!centre.endsWith("-test") &&
                !centre.isInCollection(Dims.centreIds),
              concat(lit("Invalid centre_id: "), centre))
        .when(!F.pyIsAscii(id), "Invalid characters in id")
        .when(local === "", "Empty / null local identifier")
    EtsRule("identifier", "identifier", msg.isNotNull, msg)
  }

  /** type (`ets.py:215-233`) */
  def resourceType(r: RecordCols): EtsRule = {
    val t = prop(r, "type")
    val fail = !t.isInCollection(Dims.resourceTypes)
    EtsRule("type", "type", fail, concat(lit("Invalid type: "), t))
  }

  /** extent_geospatial (`ets.py:235-258`). Note the reference's `messsage`
    * typo means FAILED rows carry no message — reproduced here. */
  def extentGeospatial(r: RecordCols): EtsRule = {
    val fail = r.geometry.isNotNull &&
      !GeoFunctions.positionsInWgs84(r.geoPositions)
    EtsRule("extent_geospatial", "extent_geospatial", fail, lit(null))
  }

  /** themes (`ets.py:299-363`) — ordered first-failure across themes, then
    * across concepts within a theme; the closing earth-system-discipline
    * existence check only fires when no theme-level failure did, which is
    * exactly the Python early-return behavior (no theme after a failing one
    * is ever visited there — but if none fails, all were visited). */
  def themes(r: RecordCols): EtsRule = {
    val themes = prop(r, "themes")
    val perTheme = transform(themes, t => {
      val conceptMsg = F.firstNonNull(transform(t.getField("concepts"), c =>
        when(c.getField("id").isNull, "Missing concept id")
          .when(t.getField("scheme").endsWith("earth-system-discipline") &&
                  !c.getField("id").isInCollection(Dims.earthSystemDisciplines),
                concat(lit("Invalid Earth system discipline "),
                       c.getField("id")))))
      when(size(t.getField("concepts")) < 1, "Missing at least one concept")
        .when(t.getField("scheme").isNull, "Missing scheme")
        .otherwise(conceptMsg)
    })
    val esdFound = exists(themes, t =>
      coalesce(t.getField("scheme").contains("earth-system-discipline"),
               lit(false)))
    val msg =
      when(size(themes) < 1, "Missing at least one theme")
        .otherwise(coalesce(F.firstNonNull(perTheme),
          when(!esdFound, "No Earth system discipline based theme found")))
    EtsRule("themes", "themes", msg.isNotNull, msg)
  }

  /** contacts (`ets.py:365-386`) — the Python `break` exits only the inner
    * role loop, so the surviving message is the FIRST invalid role of the
    * LAST contact that has any invalid role. Reproduced bit-for-bit. */
  def contacts(r: RecordCols): EtsRule = {
    val contacts = prop(r, "contacts")
    val firstBadPerContact = transform(contacts, c =>
      F.firstNonNull(transform(c.getField("roles"), role =>
        when(!role.isInCollection(Dims.contactRoles), role))))
    val lastBad = F.lastNonNull(firstBadPerContact)
    EtsRule("contacts", "contacts", lastBad.isNotNull,
      concat(lit("Invalid role "), lastBad))
  }

  /** created_datetime (`ets.py:388-404`; note the test id is
    * `record_created_datetime`, `ets.py:394`). */
  def createdDatetime(r: RecordCols): EtsRule = {
    val created = prop(r, "created")
    EtsRule("created_datetime", "record_created_datetime",
      !F.isValidCreatedDatetime(created), lit("Invalid date-time format"))
  }

  /** data_policy (`ets.py:406-438`) — guarded on `properties.type ==
    * 'dataset'`; key presence via raw `json_object_keys` (missing != null,
    * `ets.py:418`). */
  def dataPolicy(r: RecordCols): EtsRule = {
    val policy = prop(r, "wmo:dataPolicy")
    val present =
      coalesce(array_contains(r.propsKeys, "wmo:dataPolicy"), lit(false))
    val hasLicense = coalesce(
      exists(r.rec.getField("links"), l => l.getField("rel") === "license"),
      lit(false))
    val msg = when(prop(r, "type") === "dataset",
      when(!present, "Missing data policy")
        .when(!policy.isInCollection(Dims.dataPolicies),
              concat(lit("Invalid data policy "), policy))
        .when(policy === "recommended" && !hasLicense,
              "missing recommended conditions"))
    EtsRule("data_policy", "data_policy", msg.isNotNull, msg)
  }

  /** links (`ets.py:440-489`) — ordered first-failure per link, links in
    * document order. Channel topic validity = level-wise walk of the
    * vendored hierarchy tables
    * ([[graft.expressions.TopicChannelValid]]), the analog of
    * pywis_topics' `th.validate`. */
  def links(r: RecordCols): EtsRule = {
    val links = r.rec.getField("links")
    val perLink = transform(links, l => {
      val rel     = l.getField("rel")
      val href    = l.getField("href")
      val channel = l.getField("channel")
      val badSecurityKey = F.firstNonNull(transform(
        map_keys(l.getField("security")), k =>
          when(element_at(l.getField("security"), k)
                 .getField("description").isNull, k)))
      when(!rel.isInCollection(Dims.linkRelations),
           concat(lit("invalid link relation "), rel))
        .when(href.startsWith("mqtt") && channel.isNull,
              "missing channel for Pub/Sub link")
        .when(href.startsWith("mqtt") &&
                (channel.startsWith("origin/a/wis2") ||
                 channel.startsWith("cache/a/wis2")) &&
                !graft.expressions.TopicChannelValid
                  .topicChannelValid(channel),
              "Invalid WIS2 topic for Pub/Sub link channel")
        .when(badSecurityKey.isNotNull,
              concat(lit("missing security description for "), badSecurityKey))
    })
    val msg = when(size(links) < 1, "missing at least one link")
      .otherwise(F.firstNonNull(perLink))
    EtsRule("links", "links", msg.isNotNull, msg)
  }

  // The gating schema-validation test lives in [[SchemaGate]]: the
  // WCMP2 schema's required/type/enum/minItems constraints compiled over
  // the record's VARIANT value, with the reference's '{n} error(s)'
  // message + errors array (`ets.py:116-148`).

  /** The 12 counted tests in the reference's alphabetical execution order
    * (`ets.py:87-93`). */
  def catalog(r: RecordCols): Seq[EtsRule] = Seq(
    constantPass(r, "conformance"),
    contacts(r),
    createdDatetime(r),
    dataPolicy(r),
    constantPass(r, "description"),
    extentGeospatial(r),
    constantPass(r, "extent_temporal"),
    identifier(r),
    links(r),
    themes(r),
    constantPass(r, "title"),
    resourceType(r))
}
