package graft.dims

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.io.Source

/** Vendored reference dimensions (codelists, topic hierarchy levels, spell
  * dictionary, pinned MIME snapshot), loaded once from classpath resources.
  *
  * Reference behavior: pywcmp re-reads each codelist CSV from `~/.pywcmp` on
  * every record evaluation (`/root/reference/pywcmp/wcmp2/ets.py:492-514`
  * called from `ets.py:226-227,376-377,450`) and reloads the spell dictionary
  * per call (`/root/reference/pywcmp/util.py:45-59`). Here every dimension is
  * loaded exactly once per JVM and compiled into the Catalyst plan.
  *
  * Scale strategy: small dims (all of these) become `InSet` literal sets
  * inside codegen'd predicates — O(1) per-row membership, no shuffle, no
  * broadcast exchange. Dims that outgrow the in-plan threshold (e.g. a real
  * WIS2 topic hierarchy snapshot with ~1e5 topics, or a link-probe table)
  * are exposed as DataFrames for broadcast semi/anti joins instead — see
  * [[graft.engine.DatasetRules]].
  */
object Dims {

  /** Override directory for the vendored dims: start the JVM with
    * `-Dgraft.dims.dir=/path/to/tables` and any codelist file found
    * there (same filenames as `src/main/resources/codelists/`) replaces
    * the classpath copy. This is the deployment hook for the REAL
    * pywis-topics / pyspellchecker bundles: the vendored snapshots here
    * (51 centres, 6.9k-word lexicon, IANA link relations) are faithful
    * but partial, and a production WIS2 deployment should drop in the
    * full published tables without a rebuild. */
  val DimsDirProperty = "graft.dims.dir"

  private def loadList(resource: String): Seq[String] = {
    val overridden = sys.props.get(DimsDirProperty).flatMap { dir =>
      val f = new java.io.File(dir, resource.stripPrefix("/codelists/"))
      if (f.isFile) Some(Source.fromFile(f, "UTF-8")) else None
    }
    val src = overridden.getOrElse {
      val in = getClass.getResourceAsStream(resource)
      require(in != null, s"missing resource $resource")
      Source.fromInputStream(in, "UTF-8")
    }
    try src.getLines().map(_.trim).filter(_.nonEmpty).toVector
    finally src.close()
  }

  /** CSV codelists: column 0 of every row, mirroring `get_codelist`
    * (`/root/reference/pywcmp/wcmp2/ets.py:492-514`). */
  private def loadCodelist(name: String): Seq[String] =
    loadList(s"/codelists/$name").map(_.split(",")(0))

  // --- codelists (ets.py:226, 376, 450, 517-529) -------------------------
  val resourceTypes: Seq[String]  = loadCodelist("resource-type.csv")
  val contactRoles: Seq[String]   = loadCodelist("contact-role.csv")
  /** IANA link relations ++ WCMP2 link-type codelist — bag union, exactly
    * `get_link_relations` (`ets.py:517-529`). */
  val linkRelations: Seq[String] =
    loadCodelist("link-relations-1.csv") ++ loadCodelist("link-type.csv")

  // --- topic-hierarchy levels (pywis_topics.TopicHierarchy) --------------
  /** level-3 tokens: centre ids (`ets.py:183`) */
  val centreIds: Seq[String] = loadCodelist("centre-id.csv")
  /** level-5 tokens: data policies (`ets.py:425`) */
  val dataPolicies: Seq[String] = loadCodelist("data-policy.csv")
  /** level-6 tokens: earth-system disciplines (`ets.py:348`) */
  val earthSystemDisciplines: Seq[String] =
    loadCodelist("earth-system-discipline.csv")

  /** Prefix closure of a set of topic paths: every path plus every
    * ancestor ("a/b/c" -> {"a", "a/b", "a/b/c"}) — intermediate nodes of
    * a published subtree are themselves valid topic levels. */
  def prefixClosure(paths: Seq[String]): Set[String] =
    paths.iterator.flatMap { p =>
      val toks = p.split("/")
      (1 to toks.length).map(i => toks.take(i).mkString("/"))
    }.toSet

  /** Optional domain-managed sub-discipline tables (WIS2 Topic Hierarchy
    * levels >= 8, rooted at the earth-system discipline): loaded from
    * `<dims-dir>/sub-discipline.csv` when the [[DimsDirProperty]] override
    * provides one (one `discipline/sub/path` per line), `None` otherwise —
    * the topic-channel walk ([[graft.expressions.TopicChannelValid]]) then
    * checks those levels against the charset grammar only. The published
    * trees are large and centre-managed; the override is the deployment
    * hook, and [[vendoredSubDisciplines]] ships a starter snapshot. */
  def subDisciplineTable(): Option[Set[String]] =
    sys.props.get(DimsDirProperty).flatMap { dir =>
      val f = new java.io.File(dir, "sub-discipline.csv")
      if (!f.isFile) None
      else {
        val src = Source.fromFile(f, "UTF-8")
        try Some(prefixClosure(src.getLines().map(_.trim)
          .filter(l => l.nonEmpty && !l.startsWith("#")).toVector))
        finally src.close()
      }
    }

  /** Vendored PARTIAL snapshot of the published `weather` sub-discipline
    * tree (public wmo-im/wis2-topic-hierarchy; partial — deployments drop
    * the full published CSVs into the dims dir). Not wired by default:
    * pass it (or a dims-dir file) explicitly to pin levels >= 8. */
  lazy val vendoredSubDisciplines: Set[String] = {
    val in = getClass.getResourceAsStream("/wis2-subtrees/sub-discipline.csv")
    require(in != null, "missing vendored sub-discipline snapshot")
    val src = Source.fromInputStream(in, "UTF-8")
    try prefixClosure(src.getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toVector)
    finally src.close()
  }

  /** Pinned snapshot of `mimetypes.types_map` ∪ {bufr, grib, turtle}
    * (`/root/reference/pywcmp/wcmp2/kpi.py:347-352`); Python's map is
    * platform-dependent so a fixed vendored list is the only deterministic
    * choice. */
  val validMimes: Seq[String] = loadCodelist("mime-types.csv")

  /** Web image MIME types (`kpi.py:291-299`). */
  val webImageMimes: Seq[String] = Seq(
    "image/apng", "image/avif", "image/gif", "image/jpeg", "image/png",
    "image/svg+xml", "image/webp")

  /** Vendored spell dictionary (deterministic stand-in for
    * pyspellchecker's English frequency dict + `dictionary.txt`,
    * `/root/reference/pywcmp/util.py:45-59`). Lower-case words. */
  val dictionary: Seq[String] = loadList("/codelists/dictionary.txt")

  /** Each dim as a DataFrame for join-based membership when a dim outgrows
    * in-plan `InSet` (referential anti-joins in DatasetRules use these). */
  def dimDf(spark: SparkSession, name: String, values: Seq[String]): DataFrame = {
    import spark.implicits._
    values.toDF(name)
  }
}
