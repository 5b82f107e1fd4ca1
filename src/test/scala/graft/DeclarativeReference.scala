package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.dims.Dims

/** Declarative reference forms of the rules whose production form is a
  * native kernel. Each is the formulation the engine ran before its
  * kernel replaced it, built only from `org.apache.spark.sql.functions`;
  * the parity specs (OptimizationParitySpec, FunctionsSpec, DimsSpec)
  * assert that every kernel computes exactly what these compute. They are
  * oracles only: nothing in the engine calls them.
  *
  *  - spellcheck: [[misspelled]] vs [[graft.expressions.Misspelled]];
  *  - K1 title facts: [[titleFacts]] vs [[graft.expressions.TitleWords]];
  *  - K5 link pool: [[httpLinkPool]] vs [[graft.expressions.LinkPoolExpr]];
  *  - ETS links channel walk: [[validTopicChannel]] vs
  *    [[graft.expressions.TopicChannelValid]].
  */
object DeclarativeReference {

  /** `str.strip()` — Unicode whitespace both ends (Spark `trim` strips
    * only ASCII space, so use a regex). */
  def pyStrip(c: Column): Column =
    regexp_replace(regexp_replace(c, "^\\s+", ""), "\\s+$", "")

  /** `str.split()` (no args): split on whitespace runs, no empty tokens.
    * `''.split() == []`. */
  def pySplitWs(c: Column): Column =
    filter(split(pyStrip(c), "\\s+"), w => w =!= "")

  /** `str.capitalize()`: first char upper, rest lower; '' -> ''. */
  def pyCapitalize(c: Column): Column =
    when(length(c) === 0, c)
      .otherwise(concat(upper(substring(c, 1, 1)),
                        lower(c.substr(lit(2), length(c)))))

  /** `str.isalnum()` per Python: non-empty, all chars letter/number
    * (Unicode categories L*, N*). */
  def pyIsAlnum(c: Column): Column = c.rlike("^[\\p{L}\\p{N}]+$")

  /** Spellcheck tokenizer — pyspellchecker `split_words`
    * (`/root/reference/pywcmp/util.py:45-59`): `\w[\w']*\w|\w` (Unicode),
    * lowercased. */
  def spellTokens(text: Column): Column =
    regexp_extract_all(lower(text), lit("(?U)\\w[\\w']*\\w|\\w"), lit(0))

  /** float-parseable per Python `float()` (pyspellchecker
    * `_check_if_should_check` never spell-checks such tokens). Python's
    * grammar: digit groups with underscores only BETWEEN digits, plus the
    * case-insensitive inf/infinity/nan literals. */
  val floatLike: String = {
    val d = "[0-9](?:_?[0-9])*"
    s"^[+-]?((?i:inf(?:inity)?|nan)|(?:$d(?:\\.(?:$d)?)?|\\.$d)(?:[eE][+-]?$d)?)$$"
  }

  /** `SpellChecker.unknown(split_words(text))` against the vendored
    * dictionary, float-like tokens skipped. */
  def misspelled(text: Column): Column =
    filter(spellTokens(text), t =>
      !t.rlike(floatLike) && !t.isInCollection(Dims.dictionary))

  private val acronymRe = "\\b([A-Z]{2,}\\d*)\\b"
  private val bulletinRe = "[A-Z]{4}\\d{2}[\\s_]*[A-Z]{4}"

  /** The K1 title facts (`kpi.py:82-163`) as the struct the TitleWords
    * kernel returns: `words` (`title.split()`), `stripped` (the
    * acronym-stripped title), `all_alnum`, `cap_ok` (sentence case),
    * `n_acronyms` and `has_bulletin`. */
  def titleFacts(t: Column): Column = {
    val words = pySplitWs(t)
    val stripped = pyStrip(regexp_replace(t, acronymRe, ""))
    struct(
      words.as("words"),
      stripped.as("stripped"),
      forall(words, pyIsAlnum).as("all_alnum"),
      (pyCapitalize(stripped) === stripped).as("cap_ok"),
      size(regexp_extract_all(t, lit(acronymRe), lit(1))).as("n_acronyms"),
      t.rlike(bulletinRe).as("has_bulletin"))
  }

  /** The pooled link set of kpi_links_health (`kpi.py:356-374`): record
    * links, then per theme its concept urls and scheme, then contact
    * links — filtered to http(s). Arguments are the parsed record's
    * `links`, `properties.themes` and `properties.contacts`. */
  def httpLinkPool(links: Column, themes: Column, contacts: Column): Column = {
    val hrefType = (href: Column, t: Column) =>
      struct(href.as("href"), t.as("type"))
    val recordLinks = transform(links,
      l => hrefType(l.getField("href"), l.getField("type")))
    val themeLinks = flatten(transform(themes, t => concat(
      transform(filter(t.getField("concepts"),
                       c => c.getField("url").isNotNull),
                c => hrefType(c.getField("url"), lit(null).cast(StringType))),
      array(hrefType(t.getField("scheme"), lit(null).cast(StringType))))))
    val emptyContactLinks = array()
      .cast(ArrayType(graft.model.Wcmp2Schema.contactLink))
    val contactLinks = flatten(transform(contacts, c =>
      transform(coalesce(c.getField("links"), emptyContactLinks),
                l => hrefType(l.getField("href"), lit(null).cast(StringType)))))
    val emptyPool = array().cast(ArrayType(StructType(Seq(
      StructField("href", StringType), StructField("type", StringType)))))
    val pool = concat(
      coalesce(recordLinks, emptyPool),
      coalesce(themeLinks, emptyPool),
      coalesce(contactLinks, emptyPool))
    filter(pool, p =>
      p.getField("href").isNotNull && p.getField("href").startsWith("http"))
  }

  /** Level-wise WIS2 topic-channel validation, the analog of
    * `th.validate(channel)` (`ets.py:476`, pywis_topics): each hierarchy
    * level is checked against that level's table.
    *
    *  - levels 1-3: literal `origin|cache / a / wis2`
    *  - level 4: centre-id dim (`-test` centres allowed, as in the
    *    identifier test, `ets.py:186`)
    *  - level 5: notification type (`data|metadata|reports`)
    *  - for `data`: level 6 data-policy dim, level 7 earth-system-
    *    discipline dim; levels 8+ validated against the published
    *    sub-discipline table when one is loaded (`subTable`) and the
    *    discipline is covered by it; lowercase-kebab charset grammar
    *    otherwise. The reserved token `experimental` opens a free-form
    *    (charset-only) subtree: the path BEFORE it must still be
    *    published.
    */
  def validTopicChannel(channel: Column,
      subTable: Option[Set[String]] = Dims.subDisciplineTable()): Column = {
    val t = split(channel, "/")
    val lvl = size(t)
    val kebab = "^[a-z0-9][a-z0-9-]*$"
    val rootOk = get(t, lit(0)).isInCollection(Seq("origin", "cache")) &&
      get(t, lit(1)) === "a" && get(t, lit(2)) === "wis2"
    val centre = get(t, lit(3))
    val centreOk =
      centre.isInCollection(Dims.centreIds) || centre.endsWith("-test")
    val charsetOk = forall(slice(t, lit(8), greatest(lvl - 7, lit(0))),
      tok => tok.rlike(kebab))
    val subOk = subTable match {
      case None => charsetOk
      case Some(closure) =>
        // discipline-rooted sub path: [discipline, s1, s2, ...]
        val disc = get(t, lit(6))
        val covered = closure.iterator.filter(!_.contains("/")).toSeq match {
          case roots if roots.nonEmpty => disc.isInCollection(roots)
          case _ => lit(false)
        }
        val sub = slice(t, lit(7), greatest(lvl - 6, lit(0)))
        val expPos = array_position(sub, "experimental")
        val joined = concat_ws("/", sub)
        val beforeExp = concat_ws("/", slice(sub, lit(1), expPos - 1))
        val published = when(expPos > 0,
            beforeExp.isInCollection(closure.toSeq))
          .otherwise(joined.isInCollection(closure.toSeq))
        // table validates covered disciplines; others keep the grammar
        charsetOk && when(covered, published).otherwise(lit(true))
    }
    val typeOk = when(get(t, lit(4)) === "data",
        lvl >= 7 &&
        get(t, lit(5)).isInCollection(Dims.dataPolicies) &&
        get(t, lit(6)).isInCollection(Dims.earthSystemDisciplines) && subOk)
      .when(get(t, lit(4)).isInCollection(Seq("metadata", "reports")),
        lvl >= 5 && forall(slice(t, lit(6), greatest(lvl - 5, lit(0))),
          tok => tok.rlike(kebab)))
      .otherwise(lit(false))
    rootOk && centreOk && typeOk
  }
}
