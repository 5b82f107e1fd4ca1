package graft.expressions

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.Wcmp2Schema

/** THE parse kernel: ONE Jackson tokenize of `content` per row yields
  * EVERY parse artifact the constraint catalog consumes — there is no
  * other scan of the document text anywhere in the engine.
  *
  *  - `rec`          — the typed [[Wcmp2Schema.root]] struct with
  *                     `from_json` PERMISSIVE + partial-results parity
  *                     (verified against `from_json` empirically; see
  *                     "struct-building semantics" below).
  *  - `parse_ok`     — strict whole-document validity (`json.loads`
  *                     semantics, `/root/reference/pywcmp/util.py:203-219`:
  *                     one complete JSON value, nothing trailing;
  *                     duplicate object keys accepted last-wins, matching
  *                     Python). One DELIBERATE deviation: Python's
  *                     json.loads accepts the non-standard
  *                     NaN/Infinity/-Infinity literals; this kernel (like
  *                     `try_parse_json` before it, and like the DuckDB
  *                     oracle's `json_valid`) rejects them as strict
  *                     JSON.
  *  - `props_keys`   — `$.properties` member names in document order
  *                     (`json_object_keys` semantics: null when not an
  *                     object) — the missing-vs-null presence channel a
  *                     typed struct cannot provide (E11 data policy, K7
  *                     externalIds).
  *  - `geom_raw`     — the raw `$.geometry` value substring (null for
  *                     missing OR explicit JSON null, like `json_tuple`).
  *  - `geo_positions`— the flattened coordinate list (shapely-equivalent
  *                     position list for all six GeoJSON geometry types),
  *                     collected during the same walk.
  *  - `gate_errors`  — the COMPLETE schema-validation error array of
  *                     [[graft.catalog.SchemaGate]]: root- and
  *                     properties-level required / type / enum / minItems
  *                     constraints plus the per-item subschemas of
  *                     `links[i]` / `contacts[i]` / `themes[i]`
  *                     (`/root/reference/pywcmp/wcmp2/ets.py:116-148`),
  *                     emitted in canonical constraint order with
  *                     byte-identical messages.
  *
  * Why: profiling the compute-bound hot path showed ~60% of CPU in JSON
  * re-tokenization (the same string parsed up to five ways: from_json,
  * try_parse_json building a whole-document variant binary, json_tuple,
  * json_object_keys x2, variant navigations), and the
  * `explode(array(struct(...)))` single-evaluation barrier forces
  * INTERPRETED evaluation of every composite expression inside it. This
  * kernel replaces all of it: one streaming pass, no intermediate tree,
  * preshared UTF8String diagnostics, direct InternalRow/ArrayData
  * construction.
  *
  * Struct-building semantics (empirically matched to `from_json` with
  * `spark.sql.json.enablePartialResults`, the Spark 4 default):
  *  - a STRING leaf never fails: JSON strings keep their text, integer
  *    numbers keep their literal text (BigInteger-safe), float numbers
  *    format via `Double.toString` (1e3 -> "1000.0"), booleans ->
  *    "true"/"false", containers serialize compactly with raw number
  *    tokens;
  *  - a mistyped value (scalar where container expected, container where
  *    the map expected, etc.) nulls THAT FIELD; sibling fields survive;
  *  - a non-null non-object element inside an array-of-struct nulls the
  *    WHOLE array field (partial arrays are not kept); explicit JSON null
  *    elements are kept as null elements;
  *  - a mistyped value inside `link.security` (map<string,struct>) nulls
  *    the whole map; JSON-null map values are kept.
  *
  * Gate-semantics notes (parity with the previous Catalyst formulation,
  * asserted by SchemaGateSpec):
  *  - container-type errors fire for explicit JSON null AND for a
  *    mistyped value (JSON-Schema emits the same "is not of type" error
  *    for both);
  *  - `$.type: 'Feature' was expected` compares the scalar token text;
  *  - a valid-JSON non-object root reports the member-level required
  *    errors rather than jsonschema's single root type error;
  *  - a record failing to parse yields parse_ok=false with an all-null
  *    `rec` (from_json's malformed-input convention) and null channels
  *    (the gate is only read behind the engine's `parse_ok` guard).
  */
case class JsonFacts(child: Expression) extends StringInputExpr {
  override def dataType: DataType = JsonFacts.schema
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    JsonFacts.facts(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val childGen = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${childGen.code}
        InternalRow ${ev.value} = null;
        if (!${childGen.isNull}) {
          ${ev.value} = graft.expressions.JsonFacts.facts(${childGen.value});
        }
        boolean ${ev.isNull} = ${ev.value} == null;
      """)
  }
  override protected def withNewChildInternal(newChild: Expression) =
    copy(child = newChild)
  override def prettyName: String = "json_facts"
}

object JsonFacts {

  val schema: StructType = StructType(Seq(
    StructField("rec", Wcmp2Schema.root),
    StructField("parse_ok", BooleanType, nullable = false),
    StructField("props_keys", ArrayType(StringType, containsNull = false)),
    StructField("geom_raw", StringType),
    StructField("geo_positions",
      ArrayType(ArrayType(DoubleType, containsNull = true),
        containsNull = true)),
    StructField("gate_errors", ArrayType(StringType, containsNull = false))))

  // ordinal pins: the builders below write rows positionally; fail fast
  // if Wcmp2Schema evolves
  require(Wcmp2Schema.root.fieldNames.sameElements(Array(
    "id", "conformsTo", "type", "time", "properties", "links",
    "additionalExtents")))
  require(Wcmp2Schema.properties.fieldNames.sameElements(Array(
    "title", "description", "themes", "contacts", "type", "created",
    "updated", "wmo:dataPolicy", "externalIds")))
  require(Wcmp2Schema.link.fieldNames.sameElements(Array(
    "rel", "href", "type", "hreflang", "title", "channel", "security")))
  require(Wcmp2Schema.contact.fieldNames.sameElements(Array(
    "organization", "position", "phones", "emails", "links",
    "contactInstructions", "roles")))
  require(Wcmp2Schema.theme.fieldNames.sameElements(Array("concepts", "scheme")))
  require(Wcmp2Schema.concept.fieldNames.sameElements(Array("id", "url")))
  require(Wcmp2Schema.timeExtent.fieldNames.sameElements(Array(
    "interval", "resolution")))
  require(Wcmp2Schema.externalId.fieldNames.sameElements(Array(
    "scheme", "value")))
  require(Wcmp2Schema.contactLink.fieldNames.sameElements(Array(
    "rel", "type", "href")))
  require(Wcmp2Schema.securityScheme.fieldNames.sameElements(Array(
    "description")))
  require(Wcmp2Schema.additionalExtents.fieldNames.sameElements(Array(
    "temporal")))

  private val factory = new JsonFactory()

  /** all-null rec — from_json's result for malformed input / non-object
    * roots (shared: readers never mutate) */
  private val EMPTY_REC: InternalRow =
    new GenericInternalRow(new Array[Any](7))

  private val FAILED: InternalRow = {
    val a = new Array[Any](6)
    a(0) = EMPTY_REC
    a(1) = java.lang.Boolean.FALSE
    new GenericInternalRow(a)
  }

  private val Core = "http://wis.wmo.int/spec/wcmp/2/conf/core"

  // fixed gate diagnostics as preshared UTF8Strings (error rows are the
  // exception; the all-valid path must not build strings)
  private def u(s: String) = UTF8String.fromString(s)
  private val RootMembers = Array(
    "id", "conformsTo", "type", "time", "geometry", "properties", "links")
  private val ReqRoot: Map[String, UTF8String] = RootMembers.map(m =>
    m -> u(s"$$: '$m' is a required property")).toMap
  private val PropMembers = Array(
    "title", "description", "type", "created", "contacts", "themes")
  private val ReqProp: Map[String, UTF8String] = PropMembers.map(m =>
    m -> u(s"$$.properties: '$m' is a required property")).toMap
  private val StrProp: Map[String, UTF8String] = PropMembers.take(4).map(m =>
    m -> u(s"$$.properties.$m: is not of type 'string'")).toMap
  private val IdNotString = u("$.id: is not of type 'string'")
  // Draft 2020-12 `pattern` (assertive, unlike `format` — see SchemaGate):
  // the WCMP2 identifier URN prefix. Kept deliberately loose (prefix only):
  // the reference's own tests prove the bundled schema passes records whose
  // local identifier is empty or contains spaces
  // (/root/reference/tests/run_tests.py:148-181 — those records fail ONLY
  // the ETS identifier test), so any stricter pattern would diverge.
  private val IdUrnPrefix = "urn:wmo:md:"
  private val IdUrnPrefixU8 = UTF8String.fromString(IdUrnPrefix)
  private val ConformsNotArray = u("$.conformsTo: is not of type 'array'")
  private val ConformsNoCore = u(s"$$.conformsTo: does not contain '$Core'")
  private val ConformsNotUnique = u("$.conformsTo: has non-unique elements")
  private val TypeNotFeature = u("$.type: 'Feature' was expected")
  private val TimeNotObj = u("$.time: is not of type 'object', 'null'")
  private val GeomNotObj = u("$.geometry: is not of type 'object', 'null'")
  private val PropsNotObj = u("$.properties: is not of type 'object'")
  private val LinksNotArray = u("$.links: is not of type 'array'")
  private val LinksTooShort = u("$.links: [] is too short")
  private val ContactsNotArray =
    u("$.properties.contacts: is not of type 'array'")
  private val ContactsTooShort = u("$.properties.contacts: [] is too short")
  private val ThemesNotArray = u("$.properties.themes: is not of type 'array'")
  private val ThemesTooShort = u("$.properties.themes: [] is too short")

  private val TrueStr = u("true")
  private val FalseStr = u("false")

  private def add(out: ArrayBuffer[Any], s: String): Unit =
    out += UTF8String.fromString(s)

  /** Skip the value whose first token is `t` (containers consume through
    * their matching end token; scalars are already consumed). */
  private def skipValue(p: JsonParser, t: JsonToken): Unit =
    if (t == JsonToken.START_OBJECT || t == JsonToken.START_ARRAY)
      p.skipChildren()

  /** Parser + raw-slice source abstraction: the walk is identical over
    * Jackson's byte-based (UTF8StreamJsonParser) and reader-based parsers;
    * only parser construction, the offset accessors (byte vs char) and
    * the raw-slice materialization differ. The byte source is the hot
    * path (no String decode of the whole document, raw slices are
    * zero-decode fromBytes); the char source is the exact pre-r6
    * behavior, kept for inputs that are not valid UTF-8 (where the
    * replacement-char decode of toString can make a byte-level-broken
    * document parseable — byte parsing would throw instead). */
  private abstract class RawSrc {
    def createParser(f: JsonFactory): JsonParser
    def tokenStart(p: JsonParser): Int
    def cur(p: JsonParser): Int
    def slice(start: Int, end: Int): UTF8String
    def len: Int
  }
  private final class ByteSrc(bytes: Array[Byte]) extends RawSrc {
    def createParser(f: JsonFactory): JsonParser =
      f.createParser(bytes, 0, bytes.length)
    def tokenStart(p: JsonParser): Int =
      p.currentTokenLocation().getByteOffset.toInt
    def cur(p: JsonParser): Int = p.currentLocation().getByteOffset.toInt
    def slice(start: Int, end: Int): UTF8String =
      UTF8String.fromBytes(bytes, start, end - start)
    def len: Int = bytes.length
  }
  private final class CharSrc(s: String) extends RawSrc {
    def createParser(f: JsonFactory): JsonParser = f.createParser(s)
    def tokenStart(p: JsonParser): Int =
      p.currentTokenLocation().getCharOffset.toInt
    def cur(p: JsonParser): Int = p.currentLocation().getCharOffset.toInt
    def slice(start: Int, end: Int): UTF8String =
      UTF8String.fromString(s.substring(start, end))
    def len: Int = s.length
  }

  /** Raw value slice by token offsets; SQL NULL for JSON null
    * (the `json_tuple` convention its consumers rely on). */
  private def rawValue(p: JsonParser, src: RawSrc, t: JsonToken): UTF8String = {
    if (t == JsonToken.VALUE_NULL) { return null }
    val start = src.tokenStart(p)
    skipValue(p, t)
    val end = src.cur(p)
    if (start < 0 || end <= start || end > src.len) null
    else src.slice(start, end)
  }

  // ---- from_json-parity leaf/struct builders --------------------------

  private def writeEscaped(s: String, sb: java.lang.StringBuilder): Unit = {
    sb.append('"')
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case _ =>
          if (c < 0x20) sb.append(f"\\u${c.toInt}%04x") else sb.append(c)
      }
      i += 1
    }
    sb.append('"')
  }

  /** Compact serialization of the value whose first token is `t`
    * (container-to-string coercion: compact, original member order, raw
    * number tokens — from_json's copyCurrentStructure convention). */
  private def writeCompact(p: JsonParser, t: JsonToken,
                           sb: java.lang.StringBuilder): Unit = t match {
    case JsonToken.START_OBJECT =>
      sb.append('{')
      var first = true
      var fn = p.nextFieldName()
      while (fn != null) {
        if (!first) sb.append(',')
        first = false
        writeEscaped(fn, sb)
        sb.append(':')
        writeCompact(p, p.nextToken(), sb)
        fn = p.nextFieldName()
      }
      sb.append('}')
    case JsonToken.START_ARRAY =>
      sb.append('[')
      var first = true
      var e = p.nextToken()
      while (e != JsonToken.END_ARRAY) {
        if (!first) sb.append(',')
        first = false
        writeCompact(p, e, sb)
        e = p.nextToken()
      }
      sb.append(']')
    case JsonToken.VALUE_STRING => writeEscaped(p.getText, sb)
    case JsonToken.VALUE_NULL => sb.append("null")
    case JsonToken.VALUE_TRUE => sb.append("true")
    case JsonToken.VALUE_FALSE => sb.append("false")
    case _ => sb.append(p.getText) // numbers: raw token text
  }

  /** STRING leaf with from_json's coercions — never fails. Consumes the
    * value. */
  private def stringLeaf(p: JsonParser, t: JsonToken): UTF8String = t match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
    case JsonToken.VALUE_NUMBER_INT => UTF8String.fromString(p.getText)
    case JsonToken.VALUE_NUMBER_FLOAT =>
      UTF8String.fromString(java.lang.Double.toString(p.getDoubleValue))
    case JsonToken.VALUE_TRUE => TrueStr
    case JsonToken.VALUE_FALSE => FalseStr
    case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
      val sb = new java.lang.StringBuilder(32)
      writeCompact(p, t, sb)
      UTF8String.fromString(sb.toString)
    case _ => null
  }

  /** array<string>: elements all coerce; never fails once the value IS an
    * array. Caller has consumed START_ARRAY. */
  private def stringArray(p: JsonParser): GenericArrayData = {
    val out = new ArrayBuffer[Any](4)
    var e = p.nextToken()
    while (e != JsonToken.END_ARRAY) {
      out += stringLeaf(p, e)
      e = p.nextToken()
    }
    new GenericArrayData(out.toArray)
  }

  /** array<string> FIELD: null for JSON null or mistyped value. */
  private def stringArrayField(p: JsonParser, t: JsonToken): GenericArrayData =
    if (t == JsonToken.START_ARRAY) stringArray(p)
    else { skipValue(p, t); null }

  /** all-string small struct (phone/email/externalId/contactLink/
    * concept/securityScheme): field name -> row ordinal; unknown members
    * skipped. Caller has consumed START_OBJECT. Never fails. */
  private def smallStruct(p: JsonParser, fields: Map[String, Int],
                          arity: Int): GenericInternalRow = {
    val row = new Array[Any](arity)
    var fn = p.nextFieldName()
    while (fn != null) {
      val ft = p.nextToken()
      fields.get(fn) match {
        case Some(i) => row(i) = stringLeaf(p, ft)
        case None => skipValue(p, ft)
      }
      fn = p.nextFieldName()
    }
    new GenericInternalRow(row)
  }

  private val phoneFields = Map("value" -> 0)
  private val externalIdFields = Map("scheme" -> 0, "value" -> 1)
  private val contactLinkFields = Map("rel" -> 0, "type" -> 1, "href" -> 2)
  private val securitySchemeFields = Map("description" -> 0)

  /** array<small-struct> FIELD: a non-null non-object ELEMENT fails the
    * whole array (from_json partial-results behavior); JSON-null elements
    * are kept. Returns null on JSON-null / mistyped / failed. Caller
    * passes the field's first token. */
  private def structArrayField(p: JsonParser, t: JsonToken,
                               fields: Map[String, Int],
                               arity: Int): GenericArrayData = {
    if (t != JsonToken.START_ARRAY) { skipValue(p, t); return null }
    val out = new ArrayBuffer[Any](4)
    var failed = false
    var e = p.nextToken()
    while (e != JsonToken.END_ARRAY) {
      if (e == JsonToken.VALUE_NULL) out += null
      else if (e == JsonToken.START_OBJECT) out += smallStruct(p, fields, arity)
      else { failed = true; skipValue(p, e) }
      e = p.nextToken()
    }
    if (failed) null else new GenericArrayData(out.toArray)
  }

  /** link.security map<string,securityScheme>: a non-null non-object
    * VALUE fails the whole map; JSON-null values kept. */
  private def securityMapField(p: JsonParser, t: JsonToken): ArrayBasedMapData = {
    if (t != JsonToken.START_OBJECT) { skipValue(p, t); return null }
    val keys = new ArrayBuffer[Any](2)
    val vals = new ArrayBuffer[Any](2)
    var failed = false
    var fn = p.nextFieldName()
    while (fn != null) {
      val ft = p.nextToken()
      if (ft == JsonToken.VALUE_NULL) { keys += u(fn); vals += null }
      else if (ft == JsonToken.START_OBJECT) {
        keys += u(fn); vals += smallStruct(p, securitySchemeFields, 1)
      } else { failed = true; skipValue(p, ft) }
      fn = p.nextFieldName()
    }
    if (failed) null
    else new ArrayBasedMapData(
      new GenericArrayData(keys.toArray), new GenericArrayData(vals.toArray))
  }

  /** timeExtent {interval: array<string>, resolution: string}. Caller has
    * consumed START_OBJECT. */
  private def timeExtent(p: JsonParser): GenericInternalRow = {
    val row = new Array[Any](2)
    var fn = p.nextFieldName()
    while (fn != null) {
      val ft = p.nextToken()
      fn match {
        case "interval" => row(0) = stringArrayField(p, ft)
        case "resolution" => row(1) = stringLeaf(p, ft)
        case _ => skipValue(p, ft)
      }
      fn = p.nextFieldName()
    }
    new GenericInternalRow(row)
  }

  /** additionalExtents {temporal: timeExtent}. */
  private def additionalExtents(p: JsonParser): GenericInternalRow = {
    val row = new Array[Any](1)
    var fn = p.nextFieldName()
    while (fn != null) {
      val ft = p.nextToken()
      fn match {
        case "temporal" =>
          row(0) = if (ft == JsonToken.START_OBJECT) timeExtent(p)
                   else { skipValue(p, ft); null }
        case _ => skipValue(p, ft)
      }
      fn = p.nextFieldName()
    }
    new GenericInternalRow(row)
  }

  /** member states: 0 missing, 1 expected type, 2 present-but-mistyped
    * (JSON null counts as mistyped — JSON-Schema's "is not of type"). */
  private final class Walk {
    var idState = 0
    var confState = 0; var confHasCore = false
    var typeState = 0; var typeText: String = null
    var timeState = 0 // 0 missing, 1 object, 2 mistyped, 3 JSON null
    var geomState = 0
    var geomRaw: UTF8String = null
    var geomType: String = null
    var geomPositions: ArrayBuffer[Any] = null
    var posDepth = -1
    var posMixed = false
    var propsState = 0
    var propsKeys: ArrayBuffer[Any] = null
    var linksState = 0; var linksCount = 0
    var linksErrs: ArrayBuffer[Any] = null
    var titleState = 0; var descState = 0
    var ptypeState = 0; var createdState = 0
    var contactsState = 0; var contactsCount = 0
    var contactsErrs: ArrayBuffer[Any] = null
    var contactsRec: GenericArrayData = null
    var themesState = 0; var themesCount = 0
    var themesErrs: ArrayBuffer[Any] = null
    var themesRec: GenericArrayData = null
    // rec values (from_json parity)
    var recId: UTF8String = null
    var recConformsTo: GenericArrayData = null
    var recType: UTF8String = null
    var recTime: GenericInternalRow = null
    var recProps: GenericInternalRow = null
    var recLinks: GenericArrayData = null
    var recAddExt: GenericInternalRow = null
  }

  private def strState(t: JsonToken): Int =
    if (t == JsonToken.VALUE_STRING) 1 else 2

  /** `links[i]`: gate (object with required string href/rel) + rec link
    * rows, one pass. */
  private def walkLinks(p: JsonParser, w: Walk): Unit = {
    val out = new ArrayBuffer[Any](0)
    w.linksErrs = out
    val rec = new ArrayBuffer[Any](4)
    var recFailed = false
    var i = 0
    var e = p.nextToken()
    while (e != JsonToken.END_ARRAY) {
      // built only on error branches (the all-valid path allocates nothing)
      def pfx = s"$$.links[$i]"
      if (e == JsonToken.VALUE_NULL) {
        add(out, s"$pfx: is not of type 'object'")
        rec += null
      } else if (e != JsonToken.START_OBJECT) {
        add(out, s"$pfx: is not of type 'object'")
        recFailed = true
        skipValue(p, e)
      } else {
        var href = 0; var rel = 0
        val row = new Array[Any](7)
        var fn = p.nextFieldName()
        while (fn != null) {
          val ft = p.nextToken()
          fn match {
            case "rel" => rel = strState(ft); row(0) = stringLeaf(p, ft)
            case "href" => href = strState(ft); row(1) = stringLeaf(p, ft)
            case "type" => row(2) = stringLeaf(p, ft)
            case "hreflang" => row(3) = stringLeaf(p, ft)
            case "title" => row(4) = stringLeaf(p, ft)
            case "channel" => row(5) = stringLeaf(p, ft)
            case "security" => row(6) = securityMapField(p, ft)
            case _ => skipValue(p, ft)
          }
          fn = p.nextFieldName()
        }
        rec += new GenericInternalRow(row)
        if (href == 0) add(out, s"$pfx: 'href' is a required property")
        else if (href == 2) add(out, s"$pfx.href: is not of type 'string'")
        if (rel == 0) add(out, s"$pfx: 'rel' is a required property")
        else if (rel == 2) add(out, s"$pfx.rel: is not of type 'string'")
      }
      i += 1
      e = p.nextToken()
    }
    w.linksCount = i
    w.recLinks = if (recFailed) null else new GenericArrayData(rec.toArray)
  }

  /** `contacts[i]`: gate (object; roles required array; anyOf
    * name/organization) + rec contact rows, one pass. */
  private def walkContacts(p: JsonParser, w: Walk): Unit = {
    val out = new ArrayBuffer[Any](0)
    w.contactsErrs = out
    val rec = new ArrayBuffer[Any](2)
    var recFailed = false
    var i = 0
    var e = p.nextToken()
    while (e != JsonToken.END_ARRAY) {
      def pfx = s"$$.properties.contacts[$i]"
      if (e == JsonToken.VALUE_NULL) {
        add(out, s"$pfx: is not of type 'object'")
        rec += null
      } else if (e != JsonToken.START_OBJECT) {
        add(out, s"$pfx: is not of type 'object'")
        recFailed = true
        skipValue(p, e)
      } else {
        var roles = 0
        var hasName = false; var hasOrg = false
        val row = new Array[Any](7)
        var fn = p.nextFieldName()
        while (fn != null) {
          val ft = p.nextToken()
          fn match {
            case "organization" =>
              hasOrg = true; row(0) = stringLeaf(p, ft)
            case "name" => hasName = true; skipValue(p, ft)
            case "position" => row(1) = stringLeaf(p, ft)
            case "phones" =>
              row(2) = structArrayField(p, ft, phoneFields, 1)
            case "emails" =>
              row(3) = structArrayField(p, ft, phoneFields, 1)
            case "links" =>
              row(4) = structArrayField(p, ft, contactLinkFields, 3)
            case "contactInstructions" => row(5) = stringLeaf(p, ft)
            case "roles" =>
              roles = if (ft == JsonToken.START_ARRAY) 1 else 2
              row(6) = stringArrayField(p, ft)
            case _ => skipValue(p, ft)
          }
          fn = p.nextFieldName()
        }
        rec += new GenericInternalRow(row)
        if (roles == 0) add(out, s"$pfx: 'roles' is a required property")
        else if (roles == 2) add(out, s"$pfx.roles: is not of type 'array'")
        if (!hasName && !hasOrg)
          add(out, s"$pfx: is not valid under any of the given schemas")
      }
      i += 1
      e = p.nextToken()
    }
    w.contactsCount = i
    w.contactsRec = if (recFailed) null else new GenericArrayData(rec.toArray)
  }

  /** `themes[i]`: gate (object; concepts required array minItems 1;
    * scheme required string; concepts[j] object with required string id)
    * + rec theme rows, one pass. Canonical gate emit order per theme
    * (concepts-level, scheme, concept items) regardless of member order
    * in the document. */
  private def walkThemes(p: JsonParser, w: Walk): Unit = {
    val out = new ArrayBuffer[Any](0)
    w.themesErrs = out
    val rec = new ArrayBuffer[Any](2)
    var recFailed = false
    var i = 0
    var e = p.nextToken()
    while (e != JsonToken.END_ARRAY) {
      def pfx = s"$$.properties.themes[$i]"
      if (e == JsonToken.VALUE_NULL) {
        add(out, s"$pfx: is not of type 'object'")
        rec += null
      } else if (e != JsonToken.START_OBJECT) {
        add(out, s"$pfx: is not of type 'object'")
        recFailed = true
        skipValue(p, e)
      } else {
        var concepts = 0
        var conceptCount = 0
        var scheme = 0
        var conceptErrs: ArrayBuffer[Any] = null
        val row = new Array[Any](2)
        var fn = p.nextFieldName()
        while (fn != null) {
          val ft = p.nextToken()
          fn match {
            case "concepts" =>
              if (ft != JsonToken.START_ARRAY) {
                // duplicate-key last-wins: drop any per-concept errors
                // collected from an earlier occurrence
                concepts = 2; conceptErrs = null; conceptCount = 0
                row(0) = null; skipValue(p, ft)
              } else {
                concepts = 1
                conceptErrs = new ArrayBuffer[Any](0)
                conceptCount = 0
                val crec = new ArrayBuffer[Any](4)
                var cFailed = false
                var c = p.nextToken()
                while (c != JsonToken.END_ARRAY) {
                  def cp = s"$pfx.concepts[$conceptCount]"
                  if (c == JsonToken.VALUE_NULL) {
                    add(conceptErrs, s"$cp: is not of type 'object'")
                    crec += null
                  } else if (c != JsonToken.START_OBJECT) {
                    add(conceptErrs, s"$cp: is not of type 'object'")
                    cFailed = true
                    skipValue(p, c)
                  } else {
                    var id = 0
                    val crow = new Array[Any](2)
                    var cf = p.nextFieldName()
                    while (cf != null) {
                      val ct = p.nextToken()
                      cf match {
                        case "id" => id = strState(ct); crow(0) = stringLeaf(p, ct)
                        case "url" => crow(1) = stringLeaf(p, ct)
                        case _ => skipValue(p, ct)
                      }
                      cf = p.nextFieldName()
                    }
                    crec += new GenericInternalRow(crow)
                    if (id == 0)
                      add(conceptErrs, s"$cp: 'id' is a required property")
                    else if (id == 2)
                      add(conceptErrs, s"$cp.id: is not of type 'string'")
                  }
                  conceptCount += 1
                  c = p.nextToken()
                }
                row(0) =
                  if (cFailed) null else new GenericArrayData(crec.toArray)
              }
            case "scheme" =>
              scheme = strState(ft)
              row(1) = stringLeaf(p, ft)
            case _ => skipValue(p, ft)
          }
          fn = p.nextFieldName()
        }
        rec += new GenericInternalRow(row)
        if (concepts == 0) add(out, s"$pfx: 'concepts' is a required property")
        else if (concepts == 2) add(out, s"$pfx.concepts: is not of type 'array'")
        else if (conceptCount < 1) add(out, s"$pfx.concepts: [] is too short")
        if (scheme == 0) add(out, s"$pfx: 'scheme' is a required property")
        else if (scheme == 2) add(out, s"$pfx.scheme: is not of type 'string'")
        if (conceptErrs != null) out ++= conceptErrs
      }
      i += 1
      e = p.nextToken()
    }
    w.themesCount = i
    w.themesRec = if (recFailed) null else new GenericArrayData(rec.toArray)
  }

  /** `$.geometry` object walk: type + the flattened position list
    * (shapely-equivalent: Point/LineString/MultiPoint/Polygon/
    * MultiLineString/MultiPolygon flatten to a list of [x,y(,z)]
    * positions; an unrecognized `type` yields null positions like the
    * declarative per-type CaseWhen in GeoFunctions). Positions are
    * DEPTH-GATED per type (Point positions live at coordinate depth 1,
    * LineString/MultiPoint at 2, Polygon/MultiLineString at 3,
    * MultiPolygon at 4): depth-mismatched coordinates yield NULL
    * positions, which keeps the E4 bounds outcome identical to the
    * declarative fixed-depth `from_json` parses and to the DuckDB matrix
    * oracle (all three PASS such records — the bounds predicate over a
    * null/partial position list is null). */
  private def walkGeometry(p: JsonParser, w: Walk): Unit = {
    w.geomType = null; w.geomPositions = null
    var coords: ArrayBuffer[Any] = null
    var fn = p.nextFieldName()
    while (fn != null) {
      val ft = p.nextToken()
      fn match {
        case "type" =>
          w.geomType = if (ft == JsonToken.VALUE_STRING) p.getText else null
          skipValue(p, ft)
        case "coordinates" =>
          if (ft != JsonToken.START_ARRAY) { coords = null; skipValue(p, ft) }
          else {
            coords = new ArrayBuffer[Any](8)
            w.posDepth = -1; w.posMixed = false
            collectPositions(p, coords, 1, w)
          }
        case _ => skipValue(p, ft)
      }
      fn = p.nextFieldName()
    }
    val expected = w.geomType match {
      case "Point" => 1
      case "LineString" | "MultiPoint" => 2
      case "Polygon" | "MultiLineString" => 3
      case "MultiPolygon" => 4
      case _ => -1
    }
    if (expected > 0 && coords != null && !w.posMixed &&
        (coords.isEmpty || w.posDepth == expected))
      w.geomPositions = coords
  }

  /** Inside an open array at `depth` (coordinates root = 1): recurse into
    * nested arrays; a maximal array of scalars is one position
    * (non-numeric scalars become null ordinates). Records the common
    * position depth for the caller's per-type gate. */
  private def collectPositions(p: JsonParser, out: ArrayBuffer[Any],
                               depth: Int, w: Walk): Unit = {
    var t = p.nextToken()
    if (t == JsonToken.END_ARRAY) return
    if (t != JsonToken.START_ARRAY) {
      // this array is itself a position
      if (w.posDepth < 0) w.posDepth = depth
      else if (w.posDepth != depth) w.posMixed = true
      val pos = new ArrayBuffer[Any](4)
      while (t != JsonToken.END_ARRAY) {
        if (t == JsonToken.VALUE_NUMBER_INT ||
            t == JsonToken.VALUE_NUMBER_FLOAT)
          pos += java.lang.Double.valueOf(p.getDoubleValue)
        else { pos += null; skipValue(p, t) }
        t = p.nextToken()
      }
      out += new GenericArrayData(pos.toArray)
    } else {
      while (t != JsonToken.END_ARRAY) {
        if (t == JsonToken.START_ARRAY) collectPositions(p, out, depth + 1, w)
        else skipValue(p, t)
        t = p.nextToken()
      }
    }
  }

  /** `$.properties` object walk: key list, string states for the four
    * string members, contacts/themes item subschemas, and the rec
    * properties row — one pass. */
  private def walkProps(p: JsonParser, w: Walk): Unit = {
    // duplicate-key last-wins: a re-encountered $.properties object fully
    // replaces the first one's member states
    w.propsKeys = new ArrayBuffer[Any]
    w.titleState = 0; w.descState = 0; w.ptypeState = 0; w.createdState = 0
    w.contactsState = 0; w.contactsCount = 0; w.contactsErrs = null
    w.contactsRec = null
    w.themesState = 0; w.themesCount = 0; w.themesErrs = null
    w.themesRec = null
    val row = new Array[Any](9)
    var pf = p.nextFieldName()
    while (pf != null) {
      add(w.propsKeys, pf)
      val pt = p.nextToken()
      pf match {
        case "title" =>
          w.titleState = strState(pt); row(0) = stringLeaf(p, pt)
        case "description" =>
          w.descState = strState(pt); row(1) = stringLeaf(p, pt)
        case "themes" =>
          if (pt != JsonToken.START_ARRAY) {
            w.themesState = 2; w.themesErrs = null; w.themesRec = null
            row(2) = null; skipValue(p, pt)
          } else { w.themesState = 1; walkThemes(p, w); row(2) = w.themesRec }
        case "contacts" =>
          if (pt != JsonToken.START_ARRAY) {
            w.contactsState = 2; w.contactsErrs = null; w.contactsRec = null
            row(3) = null; skipValue(p, pt)
          } else {
            w.contactsState = 1; walkContacts(p, w); row(3) = w.contactsRec
          }
        case "type" =>
          w.ptypeState = strState(pt); row(4) = stringLeaf(p, pt)
        case "created" =>
          w.createdState = strState(pt); row(5) = stringLeaf(p, pt)
        case "updated" => row(6) = stringLeaf(p, pt)
        case "wmo:dataPolicy" => row(7) = stringLeaf(p, pt)
        case "externalIds" =>
          row(8) = structArrayField(p, pt, externalIdFields, 2)
        case _ => skipValue(p, pt)
      }
      pf = p.nextFieldName()
    }
    w.recProps = new GenericInternalRow(row)
  }

  /** Duplicate detection over an array's COERCED string leaves — the same
    * leaf view the DuckDB twin's `json_transform(.., '["VARCHAR"]')`
    * holds: scalars coerced to text, containers MINIFIED to their compact
    * JSON text (key order preserved — so two identical objects compare
    * equal, approximating jsonschema's full-JSON uniqueItems equality up
    * to source formatting), JSON nulls -> null. Null elements are
    * excluded (jsonschema would count two JSON nulls as non-unique; both
    * engines erase them to SQL NULL, so they are skipped consistently —
    * documented approximation). Arrays are tiny in honest records
    * (conformsTo: a handful of conformance classes), so the pairwise scan
    * avoids a per-row hash-set allocation — but the bytes are UNTRUSTED,
    * and an all-distinct million-element array would make the quadratic
    * scan a single-row executor stall (the same DoS class the media
    * decoders cap), so beyond a small bound this falls back to a
    * hash set and stays linear. */
  private def hasDupLeaf(a: GenericArrayData): Boolean = {
    if (a == null) return false
    val n = a.numElements()
    if (n > 32) {
      val seen = new java.util.HashSet[Any](n * 2)
      var i = 0
      while (i < n) {
        val x = a.array(i)
        if (x != null && !seen.add(x)) return true
        i += 1
      }
      return false
    }
    var i = 0
    while (i < n) {
      val x = a.array(i)
      if (x != null) {
        var j = i + 1
        while (j < n) {
          if (x == a.array(j)) return true
          j += 1
        }
      }
      i += 1
    }
    false
  }

  /** The gate's error array in canonical constraint order (the order of
    * the previous Catalyst `checks` Seq, then links / contacts / themes
    * item diagnostics). */
  private def gateErrors(w: Walk): GenericArrayData = {
    val out = new ArrayBuffer[Any](0)
    // root-level members
    if (w.idState == 0) out += ReqRoot("id")
    else if (w.idState == 2) out += IdNotString
    else if (w.recId != null && !w.recId.startsWith(IdUrnPrefixU8))
      // pattern applies to string instances only (JSON Schema semantics);
      // message mirrors jsonschema's "'{instance}' does not match
      // '{pattern}'" shape
      add(out, s"$$.id: '${w.recId.toString}' does not match '^urn:wmo:md:'")
    if (w.confState == 0) out += ReqRoot("conformsTo")
    else if (w.confState == 2) out += ConformsNotArray
    else if (!w.confHasCore) out += ConformsNoCore
    // uniqueItems is orthogonal to the contains-core chain above: an array
    // can hold the core class twice (passes contains, fails uniqueItems)
    if (w.confState == 1 && hasDupLeaf(w.recConformsTo))
      out += ConformsNotUnique
    if (w.typeState == 0) out += ReqRoot("type")
    else if (w.typeText == null || w.typeText != "Feature")
      out += TypeNotFeature
    if (w.timeState == 0) out += ReqRoot("time")
    else if (w.timeState == 2) out += TimeNotObj
    if (w.geomState == 0) out += ReqRoot("geometry")
    else if (w.geomState == 2) out += GeomNotObj
    if (w.propsState == 0) out += ReqRoot("properties")
    else if (w.propsState == 2) out += PropsNotObj
    if (w.linksState == 0) out += ReqRoot("links")
    else if (w.linksState == 2) out += LinksNotArray
    else if (w.linksCount < 1) out += LinksTooShort
    // properties-level members (only when $.properties is an object)
    if (w.propsState == 1) {
      if (w.titleState == 0) out += ReqProp("title")
      else if (w.titleState == 2) out += StrProp("title")
      if (w.descState == 0) out += ReqProp("description")
      else if (w.descState == 2) out += StrProp("description")
      if (w.ptypeState == 0) out += ReqProp("type")
      else if (w.ptypeState == 2) out += StrProp("type")
      if (w.createdState == 0) out += ReqProp("created")
      else if (w.createdState == 2) out += StrProp("created")
      if (w.contactsState == 0) out += ReqProp("contacts")
      else if (w.contactsState == 2) out += ContactsNotArray
      else if (w.contactsCount < 1) out += ContactsTooShort
      if (w.themesState == 0) out += ReqProp("themes")
      else if (w.themesState == 2) out += ThemesNotArray
      else if (w.themesCount < 1) out += ThemesTooShort
    }
    // per-item subschema diagnostics
    if (w.linksErrs != null) out ++= w.linksErrs
    if (w.contactsErrs != null) out ++= w.contactsErrs
    if (w.themesErrs != null) out ++= w.themesErrs
    new GenericArrayData(out.toArray)
  }

  /** Static kernel shared by interpreted eval and generated code.
    * Valid-UTF-8 input (the overwhelmingly common case) parses the BYTES
    * directly — no whole-document String decode, zero-decode raw slices;
    * anything else takes the exact pre-r6 char path (toString's
    * replacement-char decode), so behavior on malformed UTF-8 is
    * unchanged. */
  /** word-at-a-time all-ASCII probe: ASCII is trivially valid UTF-8 and
    * is the overwhelming case for WCMP JSON (every fixture byte is
    * ASCII), but `UTF8String.isValid` walks a per-byte validation state
    * machine — measured as the TOP hot-path frame (~18% of steady-state
    * executor samples, ~5 KB re-validated per row). Eight bytes per
    * check against the high-bit mask; any non-ASCII byte falls through
    * to the full isValid, so non-ASCII behavior is unchanged. */
  private def isAsciiFast(s: UTF8String): Boolean = {
    val n = s.numBytes()
    val base = s.getBaseObject
    val off = s.getBaseOffset
    var i = 0
    while (i + 8 <= n) {
      if ((org.apache.spark.unsafe.Platform.getLong(base, off + i) &
           0x8080808080808080L) != 0L) return false
      i += 8
    }
    while (i < n) {
      if (s.getByte(i) < 0) return false
      i += 1
    }
    true
  }

  def facts(content: UTF8String): InternalRow =
    factsImpl(
      if (isAsciiFast(content) || content.isValid)
        new ByteSrc(content.getBytes)
      else new CharSrc(content.toString))

  /** test seam: force the char path (the pre-r6 behavior) so parity of
    * the byte fast path is assertable input-for-input */
  private[graft] def factsForcedChar(content: UTF8String): InternalRow =
    factsImpl(new CharSrc(content.toString))

  private def factsImpl(src: RawSrc): InternalRow = {
    val w = new Walk
    try {
      val p = src.createParser(factory)
      try {
        val t0 = p.nextToken()
        if (t0 == null) return FAILED
        if (t0 == JsonToken.START_OBJECT) {
          var fn = p.nextFieldName()
          while (fn != null) {
            val vt = p.nextToken()
            fn match {
              case "id" =>
                w.idState = strState(vt); w.recId = stringLeaf(p, vt)
              case "conformsTo" =>
                if (vt != JsonToken.START_ARRAY) {
                  w.confState = 2; w.confHasCore = false
                  w.recConformsTo = null
                  skipValue(p, vt)
                } else {
                  w.confState = 1; w.confHasCore = false
                  val items = new ArrayBuffer[Any](4)
                  var e = p.nextToken()
                  while (e != JsonToken.END_ARRAY) {
                    if (e == JsonToken.VALUE_STRING && p.getText == Core)
                      w.confHasCore = true
                    items += stringLeaf(p, e)
                    e = p.nextToken()
                  }
                  w.recConformsTo = new GenericArrayData(items.toArray)
                }
              case "type" =>
                if (vt == JsonToken.START_OBJECT || vt == JsonToken.START_ARRAY
                    || vt == JsonToken.VALUE_NULL) {
                  w.typeState = 2
                  w.typeText = null
                  w.recType = stringLeaf(p, vt)
                } else {
                  w.typeState = 1; w.typeText = p.getText
                  w.recType = stringLeaf(p, vt)
                }
              case "time" =>
                w.timeState =
                  if (vt == JsonToken.START_OBJECT) 1
                  else if (vt == JsonToken.VALUE_NULL) 3 else 2
                w.recTime =
                  if (vt == JsonToken.START_OBJECT) timeExtent(p)
                  else { skipValue(p, vt); null }
              case "geometry" =>
                w.geomState =
                  if (vt == JsonToken.START_OBJECT) 1
                  else if (vt == JsonToken.VALUE_NULL) 3 else 2
                if (vt != JsonToken.START_OBJECT) {
                  w.geomType = null; w.geomPositions = null
                  w.geomRaw = rawValue(p, src, vt)
                } else {
                  val start = src.tokenStart(p)
                  walkGeometry(p, w)
                  val end = src.cur(p)
                  w.geomRaw =
                    if (start < 0 || end <= start || end > src.len) null
                    else src.slice(start, end)
                }
              case "properties" =>
                if (vt != JsonToken.START_OBJECT) {
                  // duplicate-key last-wins: a mistyped re-occurrence
                  // discards the earlier object's member states AND its
                  // per-item diagnostics (gateErrors appends them
                  // unconditionally)
                  w.propsState = 2; w.propsKeys = null; w.recProps = null
                  w.titleState = 0; w.descState = 0
                  w.ptypeState = 0; w.createdState = 0
                  w.contactsState = 0; w.contactsCount = 0
                  w.contactsErrs = null; w.contactsRec = null
                  w.themesState = 0; w.themesCount = 0
                  w.themesErrs = null; w.themesRec = null
                  skipValue(p, vt)
                } else { w.propsState = 1; walkProps(p, w) }
              case "links" =>
                if (vt != JsonToken.START_ARRAY) {
                  w.linksState = 2; w.linksErrs = null; w.recLinks = null
                  skipValue(p, vt)
                } else { w.linksState = 1; walkLinks(p, w) }
              case "additionalExtents" =>
                w.recAddExt =
                  if (vt == JsonToken.START_OBJECT) additionalExtents(p)
                  else { skipValue(p, vt); null }
              case _ => skipValue(p, vt)
            }
            fn = p.nextFieldName()
          }
        } else {
          skipValue(p, t0)
        }
        // json.loads strictness: exactly one value, nothing trailing
        if (p.nextToken() != null) return FAILED
      } finally p.close()
    } catch {
      // only parser-level failures are parse errors (json.loads
      // semantics); a defect in the walk code itself must fail loudly,
      // not masquerade as malformed input
      case _: java.io.IOException => return FAILED
    }
    val rec = new Array[Any](7)
    rec(0) = w.recId
    rec(1) = w.recConformsTo
    rec(2) = w.recType
    rec(3) = w.recTime
    rec(4) = w.recProps
    rec(5) = w.recLinks
    rec(6) = w.recAddExt
    val a = new Array[Any](6)
    a(0) = new GenericInternalRow(rec)
    a(1) = java.lang.Boolean.TRUE
    a(2) =
      if (w.propsKeys == null) null
      else new GenericArrayData(w.propsKeys.toArray)
    a(3) = w.geomRaw
    a(4) =
      if (w.geomPositions == null) null
      else new GenericArrayData(w.geomPositions.toArray)
    a(5) = gateErrors(w)
    new GenericInternalRow(a)
  }

  def jsonFacts(c: Column): Column = {
    import org.apache.spark.sql.graft.shims
    shims.column(JsonFacts(shims.expression(c)))
  }
}
