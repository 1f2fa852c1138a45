package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query groups live under graft.queries; this object only aggregates them.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q01_pricing_summary(spark, "/root/testdata/sf0.001")

  /** THE single registration point for query groups, in registration
    * order. `queries`, `oracleSqlFor` AND ContractSpec's
    * invariants are all derived from this list and the groups' entries,
    * so a group registered here is automatically under the name-collision
    * / oracle-subset gates — the round-11 defect (a group added to the
    * production map but not the hand-maintained test registry) cannot
    * recur. ContractSpec additionally scans the classpath
    * for `graft.queries` modules extending [[QueryGroup]] and asserts each
    * appears here, so an entirely-forgotten group is also impossible.
    */
  val groups: Seq[(String, QueryGroup)] = Seq(
    "relational" -> RelationalQueries,
    "scoring" -> ScoringQueries,
    "relational2" -> RelationalQueries2,
    "relational3" -> RelationalQueries3,
    "relational4" -> RelationalQueries4,
    "relational5" -> RelationalQueries5,
    "streaming" -> StreamingQueries,
    "extension" -> ExtensionQueries,
    "extension2" -> ExtensionQueries2,
    "extension3" -> ExtensionQueries3,
    "extension4" -> ExtensionQueries4,
    "extension5" -> ExtensionQueries5,
    "sketch" -> SketchQueries,
    "extension6" -> ExtensionQueries6,
    "extension7" -> ExtensionQueries7,
    "extension8" -> ExtensionQueries8,
    "extension9" -> ExtensionQueries9,
    "extension10" -> ExtensionQueries10,
    "extension11" -> ExtensionQueries11,
    "extension12" -> ExtensionQueries12,
    "extension13" -> ExtensionQueries13,
    "extension14" -> ExtensionQueries14,
    "extension15" -> ExtensionQueries15,
    "extension16" -> ExtensionQueries16,
    "extension17" -> ExtensionQueries17,
    "extension18" -> ExtensionQueries18,
    "extension19" -> ExtensionQueries19,
    "extension20" -> ExtensionQueries20,
    "extension21" -> ExtensionQueries21,
    "extension22" -> ExtensionQueries22,
    "extension23" -> ExtensionQueries23,
    "extension24" -> ExtensionQueries24,
    "extension25" -> ExtensionQueries25,
    "extension26" -> ExtensionQueries26,
    "extension27" -> ExtensionQueries27,
    "extension28" -> ExtensionQueries28,
    "extension29" -> ExtensionQueries29,
    "extension30" -> ExtensionQueries30,
    "extension31" -> ExtensionQueries31,
    "extension32" -> ExtensionQueries32,
    "extension33" -> ExtensionQueries33,
    "extension34" -> ExtensionQueries34,
    "extension35" -> ExtensionQueries35,
    "extension36" -> ExtensionQueries36,
    "extension37" -> ExtensionQueries37,
    "extension38" -> ExtensionQueries38,
    "extension39" -> ExtensionQueries39,
    "extension40" -> ExtensionQueries40,
    "extension41" -> ExtensionQueries41,
    "extension42" -> ExtensionQueries42,
    "extension43" -> ExtensionQueries43,
    "extension44" -> ExtensionQueries44,
    "extension45" -> ExtensionQueries45,
    "extension46" -> ExtensionQueries46,
    "extension47" -> ExtensionQueries47,
    "extension48" -> ExtensionQueries48,
    "extension49" -> ExtensionQueries49,
    "extension50" -> ExtensionQueries50,
    "extension51" -> ExtensionQueries51,
    "extension52" -> ExtensionQueries52,
    "extension53" -> ExtensionQueries53,
    "extension54" -> ExtensionQueries54,
    "extension55" -> ExtensionQueries55,
    "extension56" -> ExtensionQueries56,
    "extension57" -> ExtensionQueries57,
    "extension58" -> ExtensionQueries58,
    "extension59" -> ExtensionQueries59,
    "extension60" -> ExtensionQueries60,
    "extension61" -> ExtensionQueries61,
    "extension62" -> ExtensionQueries62,
    "extension63" -> ExtensionQueries63,
    "extension64" -> ExtensionQueries64,
    "extension65" -> ExtensionQueries65,
    "extension66" -> ExtensionQueries66,
    "extension67" -> ExtensionQueries67,
    "extension68" -> ExtensionQueries68,
    "extension69" -> ExtensionQueries69,
    "extension70" -> ExtensionQueries70,
    "extension71" -> ExtensionQueries71,
    "extension72" -> ExtensionQueries72,
    "extension73" -> ExtensionQueries73,
    "extension74" -> ExtensionQueries74,
    "extension75" -> ExtensionQueries75,
    "extension76" -> ExtensionQueries76,
    "extension77" -> ExtensionQueries77,
    "extension78" -> ExtensionQueries78,
    "extension79" -> ExtensionQueries79,
    "extension80" -> ExtensionQueries80,
    "extension81" -> ExtensionQueries81,
    "extension82" -> ExtensionQueries82,
    "extension83" -> ExtensionQueries83,
    "extension84" -> ExtensionQueries84,
    "extension85" -> ExtensionQueries85,
    "extension86" -> ExtensionQueries86,
    "extension87" -> ExtensionQueries87,
    "extension88" -> ExtensionQueries88,
    "extension89" -> ExtensionQueries89,
    "extension90" -> ExtensionQueries90,
    "extension91" -> ExtensionQueries91,
    "extension92" -> ExtensionQueries92,
    "extension93" -> ExtensionQueries93,
    "extension94" -> ExtensionQueries94,
    "extension95" -> ExtensionQueries95,
    "extension96" -> ExtensionQueries96,
    "extension97" -> ExtensionQueries97,
    "extension98" -> ExtensionQueries98,
    "extension99" -> ExtensionQueries99,
    "extension100" -> ExtensionQueries100,
    "extension101" -> ExtensionQueries101,
    "extension102" -> ExtensionQueries102,
    "extension103" -> ExtensionQueries103,
    "extension104" -> ExtensionQueries104,
    "extension105" -> ExtensionQueries105,
    "extension106" -> ExtensionQueries106,
    "extension107" -> ExtensionQueries107,
    "extension108" -> ExtensionQueries108,
    "extension109" -> ExtensionQueries109,
    "extension110" -> ExtensionQueries110,
    "extension111" -> ExtensionQueries111,
    "extension112" -> ExtensionQueries112,
    "extension113" -> ExtensionQueries113,
    "extension114" -> ExtensionQueries114,
    "extension115" -> ExtensionQueries115,
    "extension116" -> ExtensionQueries116,
    "extension117" -> ExtensionQueries117,
    "extension118" -> ExtensionQueries118,
    "extension119" -> ExtensionQueries119,
    "extension120" -> ExtensionQueries120,
    "extension121" -> ExtensionQueries121,
    "extension122" -> ExtensionQueries122,
    "extension123" -> ExtensionQueries123,
    "extension124" -> ExtensionQueries124,
    "extension125" -> ExtensionQueries125,
    "extension126" -> ExtensionQueries126,
    "extension127" -> ExtensionQueries127,
    "extension128" -> ExtensionQueries128,
    "extension129" -> ExtensionQueries129,
    "extension130" -> ExtensionQueries130,
    "extension131" -> ExtensionQueries131,
    "extension132" -> ExtensionQueries132,
    "extension133" -> ExtensionQueries133,
    "extension134" -> ExtensionQueries134,
    "extension135" -> ExtensionQueries135,
    "extension136" -> ExtensionQueries136,
    "extension137" -> ExtensionQueries137)

  /** Every registered query, in registration order. */
  private val entries: Seq[Query] = groups.flatMap(_._2.entries)

  /** One entry per implemented operator from SURVEY.md §2. Built once; a
    * name registered by two groups throws here instead of one silently
    * shadowing the other.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.plans(entries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables of sf dir `dir`: a model-backed mirror carries
    * the literals of the model trained on `dir`, or is absent while none
    * is (see [[Oracle.Model]]); a `def`, because those models are trained at
    * run time. Verify uses this so a multi-dir JVM never emits another
    * dir's model.
    */
  def oracleSqlFor(dir: String): Map[String, String] =
    entries.iterator.flatMap(q => q.oracle.sqlFor(dir).map(q.name -> _)).toMap
}
