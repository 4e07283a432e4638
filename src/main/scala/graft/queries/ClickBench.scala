package graft.queries

import graft.core.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 43 public ClickBench queries (reference
  * ci/jobs/scripts/clickbench/queries.sql:1-43; the reference's own
  * published benchmark workload), registered as oracle-checked, timed
  * queries q_cb_00..q_cb_42 and run THROUGH the dialect front-end.
  *
  * The `hits` fixture is synthesized from the lineitem parquet with
  * PORTABLE deterministic arithmetic (modulo/multiply over
  * rid = l_orderkey*8 + l_linenumber, which is unique), so DuckDB
  * reproduces the exact same table from the same file and every query
  * gets a full value-hash oracle. Columns follow the public metrica.md
  * schema names; values are synthetic, NOT the dataset.
  *
  * Documented deviations from the verbatim public text, required by the
  * value-hash oracle protocol (FIXTURES.md §2):
  *  - every computed column carries an alias (the compare keys on names);
  *  - ORDER BY ... LIMIT clauses get trailing tie-break keys (the public
  *    suite orders by aggregates alone, which is nondeterministic across
  *    engines at synthetic scale);
  *  - q_cb_17 (GROUP BY + LIMIT with no ORDER BY) gains ORDER BY its
  *    group keys;
  *  - DuckDB-side SUM(int) is cast back to BIGINT (DuckDB widens to
  *    HUGEINT, Spark keeps bigint).
  * Selectivity constants (CounterID = 62, the URLHash/RefererHash/UserID
  * literals, HAVING > 100000) are kept verbatim even where the synthetic
  * fixture makes them empty — the scan/aggregate work being timed is the
  * same, and empty-vs-empty still oracles. */
object ClickBench {
  private def T(s: SparkSession, dir: String)(n: String): DataFrame = Tables.t(s, dir, n)

  /** Shared hits column derivations; @S = string type name, @TS / @DT =
    * dialect-specific timestamp/date builders. Everything else is
    * engine-portable integer/modulo/concat arithmetic. */
  private val hitsSelect = """
    rid AS WatchID,
    rid % 2 AS JavaEnable,
    CASE WHEN rid % 13 = 0 THEN concat('Google Title ', CAST(rid % 997 AS @S))
         ELSE concat('Title ', CAST(rid % 997 AS @S)) END AS Title,
    1 AS GoodEvent,
    @TS AS EventTime,
    @DT AS EventDate,
    rid % 100 AS CounterID,
    (rid * 2862933555) % 4294967296 AS ClientIP,
    rid % 5000 AS RegionID,
    (rid * 48271) % 100000 AS UserID,
    rid % 3 AS MobilePhone,
    CASE WHEN rid % 4 = 0 THEN '' ELSE concat('model-', CAST(rid % 37 AS @S)) END AS MobilePhoneModel,
    CASE WHEN rid % 5 = 0 THEN '' ELSE concat('phrase ', CAST(rid % 211 AS @S)) END AS SearchPhrase,
    rid % 20 AS SearchEngineID,
    rid % 8 AS AdvEngineID,
    1000 + rid % 1000 AS ResolutionWidth,
    rid % 2 AS IsRefresh,
    CASE WHEN rid % 7 = 0 THEN 1 ELSE 0 END AS DontCountHits,
    CASE WHEN rid % 3 = 0 THEN 1 ELSE 0 END AS IsLink,
    CASE WHEN rid % 5 = 0 THEN 1 ELSE 0 END AS IsDownload,
    rid % 19 - 9 AS TraficSourceID,
    CASE WHEN rid % 11 = 0 THEN concat('http://google.com/', CAST(rid % 499 AS @S))
         ELSE concat('http://example.com/', CAST(rid % 499 AS @S), '/page?ref=', CAST(rid % 7 AS @S)) END AS URL,
    CASE WHEN rid % 3 = 0 THEN ''
         WHEN rid % 9 = 1 THEN concat('http://www.referer.org/', CAST(rid % 101 AS @S), '/path')
         ELSE concat('http://referer.org/', CAST(rid % 101 AS @S), '/path') END AS Referer,
    (rid * 97) % 1000000 AS URLHash,
    (rid * 101) % 1000000 AS RefererHash,
    rid % 1400 AS WindowClientWidth,
    rid % 900 AS WindowClientHeight"""

  private val allHitsCols = Seq(
    "WatchID", "JavaEnable", "Title", "GoodEvent", "EventTime", "EventDate",
    "CounterID", "ClientIP", "RegionID", "UserID", "MobilePhone",
    "MobilePhoneModel", "SearchPhrase", "SearchEngineID", "AdvEngineID",
    "ResolutionWidth", "IsRefresh", "DontCountHits", "IsLink", "IsDownload",
    "TraficSourceID", "URL", "Referer", "URLHash", "RefererHash",
    "WindowClientWidth", "WindowClientHeight")

  private val hitsSelectSpark = hitsSelect
    .replace("@S", "STRING")
    .replace("@TS", "timestamp_seconds(1372636800 + rid % 86400)")
    .replace("@DT", "date_add(DATE'2013-07-01', CAST(rid % 30 AS INT))")

  private val hitsSelectDuck = hitsSelect
    .replace("@S", "VARCHAR")
    .replace("@TS", "make_timestamp((1372636800 + rid % 86400) * 1000000)")
    .replace("@DT", "(DATE '2013-07-01' + CAST(rid % 30 AS INT))")

  private val duckHitsCte =
    s"WITH hits AS (SELECT $hitsSelectDuck FROM " +
      "(SELECT l_orderkey * 8 + l_linenumber AS rid FROM lineitem) __r)"

  /** Register the hits temp view (idempotent; column pruning reaches the
    * lineitem scan through the view, so each query reads only what it
    * projects).
    *
    * Memoized per (session, dir): re-analyzing the 27-column derivation
    * measured ~67 ms of driver time per query (r18) — repeated
    * identically by every q_cb_* invocation. The
    * tableExists check covers the anchor runner's view-dropping reset. */
  // weak-keyed (ADVICE r18): don't strongly hold stopped sessions
  private val hitsFor = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String])

  def registerHits(s: SparkSession, dir: String): Unit = {
    // identity check (ADVICE r18): a foreign temp view merely NAMED
    // 'hits' (e.g. created by an anchor in the same session) must not
    // satisfy the memo — verify the registered view is OUR derivation
    // by its exact 27-column metrica signature before trusting it.
    if (dir == hitsFor.get(s) && s.catalog.tableExists("hits") &&
        (try s.table("hits").columns.toSeq == allHitsCols
         catch { case _: Exception => false })) return
    T(s, dir)("lineitem")
      .selectExpr("l_orderkey * 8 + l_linenumber AS rid")
      .createOrReplaceTempView("cb_rid")
    s.sql(s"SELECT $hitsSelectSpark FROM cb_rid").createOrReplaceTempView("hits")
    hitsFor.put(s, dir)
  }

  private case class CbQ(spark: String, duck: String, cols: Seq[String])
  private def same(body: String, cols: String*) = CbQ(body, body, cols)

  // q_cb_29: the 90-way SUM sweep, generated (SUM(ResolutionWidth + i)).
  private val sums90spark =
    (0 until 90).map(i => s"SUM(ResolutionWidth + $i) AS s$i").mkString(", ")
  private val sums90duck =
    (0 until 90).map(i => s"CAST(SUM(ResolutionWidth + $i) AS BIGINT) AS s$i").mkString(", ")

  private val cb: Seq[CbQ] = Seq(
    same("SELECT COUNT(*) AS c FROM hits", "c"),
    same("SELECT COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0", "c"),
    CbQ("SELECT SUM(AdvEngineID) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a FROM hits",
        "SELECT CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a FROM hits",
        Seq("s", "c", "a")),
    same("SELECT AVG(UserID) AS a FROM hits", "a"),
    same("SELECT COUNT(DISTINCT UserID) AS u FROM hits", "u"),
    same("SELECT COUNT(DISTINCT SearchPhrase) AS u FROM hits", "u"),
    same("SELECT MIN(EventDate) AS mn, MAX(EventDate) AS mx FROM hits", "mn", "mx"),
    same("SELECT AdvEngineID, COUNT(*) AS c FROM hits WHERE AdvEngineID <> 0 " +
      "GROUP BY AdvEngineID ORDER BY c DESC, AdvEngineID", "AdvEngineID", "c"),
    same("SELECT RegionID, COUNT(DISTINCT UserID) AS u FROM hits " +
      "GROUP BY RegionID ORDER BY u DESC, RegionID LIMIT 10", "RegionID", "u"),
    CbQ("SELECT RegionID, SUM(AdvEngineID) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a, " +
        "COUNT(DISTINCT UserID) AS u FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10",
        "SELECT RegionID, CAST(SUM(AdvEngineID) AS BIGINT) AS s, COUNT(*) AS c, AVG(ResolutionWidth) AS a, " +
        "COUNT(DISTINCT UserID) AS u FROM hits GROUP BY RegionID ORDER BY c DESC, RegionID LIMIT 10",
        Seq("RegionID", "s", "c", "a", "u")),
    same("SELECT MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits " +
      "WHERE MobilePhoneModel <> '' GROUP BY MobilePhoneModel " +
      "ORDER BY u DESC, MobilePhoneModel LIMIT 10", "MobilePhoneModel", "u"),
    same("SELECT MobilePhone, MobilePhoneModel, COUNT(DISTINCT UserID) AS u FROM hits " +
      "WHERE MobilePhoneModel <> '' GROUP BY MobilePhone, MobilePhoneModel " +
      "ORDER BY u DESC, MobilePhone, MobilePhoneModel LIMIT 10",
      "MobilePhone", "MobilePhoneModel", "u"),
    same("SELECT SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> '' " +
      "GROUP BY SearchPhrase ORDER BY c DESC, SearchPhrase LIMIT 10", "SearchPhrase", "c"),
    same("SELECT SearchPhrase, COUNT(DISTINCT UserID) AS u FROM hits WHERE SearchPhrase <> '' " +
      "GROUP BY SearchPhrase ORDER BY u DESC, SearchPhrase LIMIT 10", "SearchPhrase", "u"),
    same("SELECT SearchEngineID, SearchPhrase, COUNT(*) AS c FROM hits WHERE SearchPhrase <> '' " +
      "GROUP BY SearchEngineID, SearchPhrase ORDER BY c DESC, SearchEngineID, SearchPhrase LIMIT 10",
      "SearchEngineID", "SearchPhrase", "c"),
    same("SELECT UserID, COUNT(*) AS c FROM hits GROUP BY UserID " +
      "ORDER BY c DESC, UserID LIMIT 10", "UserID", "c"),
    same("SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits GROUP BY UserID, SearchPhrase " +
      "ORDER BY c DESC, UserID, SearchPhrase LIMIT 10", "UserID", "SearchPhrase", "c"),
    same("SELECT UserID, SearchPhrase, COUNT(*) AS c FROM hits GROUP BY UserID, SearchPhrase " +
      "ORDER BY UserID, SearchPhrase LIMIT 10", "UserID", "SearchPhrase", "c"),
    same("SELECT UserID, CAST(extract(minute FROM EventTime) AS BIGINT) AS m, SearchPhrase, " +
      "COUNT(*) AS c FROM hits GROUP BY UserID, m, SearchPhrase " +
      "ORDER BY c DESC, UserID, m, SearchPhrase LIMIT 10", "UserID", "m", "SearchPhrase", "c"),
    same("SELECT UserID FROM hits WHERE UserID = 435090932899640449", "UserID"),
    same("SELECT COUNT(*) AS c FROM hits WHERE URL LIKE '%google%'", "c"),
    same("SELECT SearchPhrase, MIN(URL) AS u, COUNT(*) AS c FROM hits " +
      "WHERE URL LIKE '%google%' AND SearchPhrase <> '' GROUP BY SearchPhrase " +
      "ORDER BY c DESC, SearchPhrase LIMIT 10", "SearchPhrase", "u", "c"),
    same("SELECT SearchPhrase, MIN(URL) AS u1, MIN(Title) AS t1, COUNT(*) AS c, " +
      "COUNT(DISTINCT UserID) AS u FROM hits WHERE Title LIKE '%Google%' " +
      "AND URL NOT LIKE '%.google.%' AND SearchPhrase <> '' GROUP BY SearchPhrase " +
      "ORDER BY c DESC, SearchPhrase LIMIT 10", "SearchPhrase", "u1", "t1", "c", "u"),
    same("SELECT * FROM hits WHERE URL LIKE '%google%' ORDER BY EventTime, WatchID LIMIT 10",
      allHitsCols: _*),
    same("SELECT SearchPhrase FROM hits WHERE SearchPhrase <> '' " +
      "ORDER BY EventTime, SearchPhrase LIMIT 10", "SearchPhrase"),
    same("SELECT SearchPhrase FROM hits WHERE SearchPhrase <> '' " +
      "ORDER BY SearchPhrase LIMIT 10", "SearchPhrase"),
    same("SELECT SearchPhrase FROM hits WHERE SearchPhrase <> '' " +
      "ORDER BY EventTime, SearchPhrase LIMIT 10", "SearchPhrase"),
    same("SELECT CounterID, AVG(length(URL)) AS l, COUNT(*) AS c FROM hits WHERE URL <> '' " +
      "GROUP BY CounterID HAVING COUNT(*) > 100000 ORDER BY l DESC, CounterID LIMIT 25",
      "CounterID", "l", "c"),
    CbQ("SELECT REGEXP_REPLACE(Referer, '^https?://(?:www\\.)?([^/]+)/.*$', '$1') AS k, " +
        "AVG(length(Referer)) AS l, COUNT(*) AS c, MIN(Referer) AS mn FROM hits " +
        "WHERE Referer <> '' GROUP BY k HAVING COUNT(*) > 100000 ORDER BY l DESC, k LIMIT 25",
        "SELECT REGEXP_REPLACE(Referer, '^https?://(?:www\\.)?([^/]+)/.*$', '\\1') AS k, " +
        "AVG(length(Referer)) AS l, COUNT(*) AS c, MIN(Referer) AS mn FROM hits " +
        "WHERE Referer <> '' GROUP BY k HAVING COUNT(*) > 100000 ORDER BY l DESC, k LIMIT 25",
        Seq("k", "l", "c", "mn")),
    CbQ(s"SELECT $sums90spark FROM hits", s"SELECT $sums90duck FROM hits",
        (0 until 90).map(i => s"s$i")),
    CbQ("SELECT SearchEngineID, ClientIP, COUNT(*) AS c, SUM(IsRefresh) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits WHERE SearchPhrase <> '' " +
        "GROUP BY SearchEngineID, ClientIP ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10",
        "SELECT SearchEngineID, ClientIP, COUNT(*) AS c, CAST(SUM(IsRefresh) AS BIGINT) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits WHERE SearchPhrase <> '' " +
        "GROUP BY SearchEngineID, ClientIP ORDER BY c DESC, SearchEngineID, ClientIP LIMIT 10",
        Seq("SearchEngineID", "ClientIP", "c", "sr", "a")),
    CbQ("SELECT WatchID, ClientIP, COUNT(*) AS c, SUM(IsRefresh) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits WHERE SearchPhrase <> '' " +
        "GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10",
        "SELECT WatchID, ClientIP, COUNT(*) AS c, CAST(SUM(IsRefresh) AS BIGINT) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits WHERE SearchPhrase <> '' " +
        "GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10",
        Seq("WatchID", "ClientIP", "c", "sr", "a")),
    CbQ("SELECT WatchID, ClientIP, COUNT(*) AS c, SUM(IsRefresh) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits " +
        "GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10",
        "SELECT WatchID, ClientIP, COUNT(*) AS c, CAST(SUM(IsRefresh) AS BIGINT) AS sr, " +
        "AVG(ResolutionWidth) AS a FROM hits " +
        "GROUP BY WatchID, ClientIP ORDER BY c DESC, WatchID, ClientIP LIMIT 10",
        Seq("WatchID", "ClientIP", "c", "sr", "a")),
    same("SELECT URL, COUNT(*) AS c FROM hits GROUP BY URL ORDER BY c DESC, URL LIMIT 10",
      "URL", "c"),
    same("SELECT 1 AS one, URL, COUNT(*) AS c FROM hits GROUP BY 1, URL " +
      "ORDER BY c DESC, URL LIMIT 10", "one", "URL", "c"),
    same("SELECT ClientIP, ClientIP - 1 AS m1, ClientIP - 2 AS m2, ClientIP - 3 AS m3, " +
      "COUNT(*) AS c FROM hits GROUP BY ClientIP, m1, m2, m3 " +
      "ORDER BY c DESC, ClientIP LIMIT 10", "ClientIP", "m1", "m2", "m3", "c"),
    same("SELECT URL, COUNT(*) AS PageViews FROM hits WHERE CounterID = 62 " +
      "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' AND DontCountHits = 0 " +
      "AND IsRefresh = 0 AND URL <> '' GROUP BY URL ORDER BY PageViews DESC, URL LIMIT 10",
      "URL", "PageViews"),
    same("SELECT Title, COUNT(*) AS PageViews FROM hits WHERE CounterID = 62 " +
      "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' AND DontCountHits = 0 " +
      "AND IsRefresh = 0 AND Title <> '' GROUP BY Title ORDER BY PageViews DESC, Title LIMIT 10",
      "Title", "PageViews"),
    same("SELECT URL, COUNT(*) AS PageViews FROM hits WHERE CounterID = 62 " +
      "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' AND IsRefresh = 0 " +
      "AND IsLink <> 0 AND IsDownload = 0 GROUP BY URL " +
      "ORDER BY PageViews DESC, URL LIMIT 10 OFFSET 1000", "URL", "PageViews"),
    same("SELECT TraficSourceID, SearchEngineID, AdvEngineID, " +
      "CASE WHEN (SearchEngineID = 0 AND AdvEngineID = 0) THEN Referer ELSE '' END AS Src, " +
      "URL AS Dst, COUNT(*) AS PageViews FROM hits WHERE CounterID = 62 " +
      "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' AND IsRefresh = 0 " +
      "GROUP BY TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst " +
      "ORDER BY PageViews DESC, TraficSourceID, SearchEngineID, AdvEngineID, Src, Dst " +
      "LIMIT 10 OFFSET 1000",
      "TraficSourceID", "SearchEngineID", "AdvEngineID", "Src", "Dst", "PageViews"),
    same("SELECT URLHash, EventDate, COUNT(*) AS PageViews FROM hits WHERE CounterID = 62 " +
      "AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' AND IsRefresh = 0 " +
      "AND TraficSourceID IN (-1, 6) AND RefererHash = 3594120000172545465 " +
      "GROUP BY URLHash, EventDate ORDER BY PageViews DESC, URLHash, EventDate " +
      "LIMIT 10 OFFSET 100", "URLHash", "EventDate", "PageViews"),
    same("SELECT WindowClientWidth, WindowClientHeight, COUNT(*) AS PageViews FROM hits " +
      "WHERE CounterID = 62 AND EventDate >= '2013-07-01' AND EventDate <= '2013-07-31' " +
      "AND IsRefresh = 0 AND DontCountHits = 0 AND URLHash = 2868770270353813622 " +
      "GROUP BY WindowClientWidth, WindowClientHeight " +
      "ORDER BY PageViews DESC, WindowClientWidth, WindowClientHeight LIMIT 10 OFFSET 10000",
      "WindowClientWidth", "WindowClientHeight", "PageViews"),
    same("SELECT DATE_TRUNC('minute', EventTime) AS M, COUNT(*) AS PageViews FROM hits " +
      "WHERE CounterID = 62 AND EventDate >= '2013-07-14' AND EventDate <= '2013-07-15' " +
      "AND IsRefresh = 0 AND DontCountHits = 0 GROUP BY M ORDER BY M LIMIT 10 OFFSET 1000",
      "M", "PageViews")
  )

  private def name(i: Int) = f"q_cb_$i%02d"

  /** Raw dialect-side query texts, for the rewrite-only timing probe. */
  def sparkTexts: Seq[String] = cb.map(_.spark)

  val queries: Map[String, Q] = cb.zipWithIndex.map { case (q, i) =>
    name(i) -> { (s: SparkSession, dir: String) =>
      registerHits(s, dir)
      ordered(graft.sqlfront.ChSql.sql(s, dir, q.spark))
    }
  }.toMap

  val oracleSql: Map[String, String] = cb.zipWithIndex.map { case (q, i) =>
    name(i) -> (s"$duckHitsCte SELECT * FROM (${q.duck}) __cb " + orderBySql(q.cols: _*))
  }.toMap
}
