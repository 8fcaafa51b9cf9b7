package graft

import org.apache.spark.sql.SparkSession

/** The session every graft main runs on (Bench, Verify, Profile,
  * ScaleProbe, Explain): `local[N]` with N = `SPARK_GRAFT_CPUS`
  * (default 4) and N shuffle partitions, UTC session time, graft's
  * SQL extensions and the txnlog catalog, no UI. */
object GraftSession {
  def create(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.spark_catalog",
        "graft.sources.TxnLogCatalog")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab or CR in a query's oracle SQL would
    * otherwise make a consumer's json.load fail. */
  def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
