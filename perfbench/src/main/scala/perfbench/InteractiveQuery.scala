package perfbench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import graft.auth.{IamPolicy, TableAcl}
import graft.operators.{FindDsl, NoSqlDsl}
import graft.plans.ReadOnlyGuard

/** `interactive_query`: two analysts in a closed loop against sf0.1-sized
  * tables (150k orders, 600k lineitem, 15k customer) plus a 2k-row query
  * registry. One op is one request: guarded native SQL, a find-DSL query
  * or a metadata query. A fixed share must be refused (DML, and tables
  * outside the identity's grants).
  *
  * The tables are pure functions of the row id and a seeded salt, so the
  * harness computes every expected answer itself, without Spark. */
object InteractiveQuery {
  val Orders = 150000L
  val Customers = 15000L
  val LinesPerOrder = 4L
  val MetaRows = 2000L

  private val Status = Vector("F", "O", "P")
  private val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val Dbs = Vector("logs", "audit", "billing", "ops")
  private val Prefixes = Vector("vpc_", "trail_", "lb_", "cost_")

  /** Twenty requests per cycle: 13 guarded SQL (5 point lookups, 4 small
    * aggregates, 2 joins, 2 refused for grants), 1 refused DML, 3 find-DSL
    * and 3 metadata queries. The shares are a chosen mix, not measured
    * traffic (README.md, "The op mixes are chosen, not measured"). */
  val Pattern: Vector[String] = Vector("sql_point", "find", "sql_agg",
    "meta", "sql_point", "sql_join", "refused_table", "sql_agg", "find",
    "sql_point", "meta", "refused_dml", "sql_agg", "sql_point", "find",
    "meta", "refused_table", "sql_join", "sql_point", "sql_agg")

  final case class Identity(id: TableAcl.Identity, policies: Seq[IamPolicy.Policy])

  private def allow(tables: String*) = IamPolicy.Policy(Seq(
    IamPolicy.Statement(IamPolicy.Allow, action = Seq("sql:Select"),
      resource = tables.map("table/" + _)),
    IamPolicy.Statement(IamPolicy.Deny, action = Seq("sql:Drop*"))))

  val Analyst = Identity(TableAcl.Identity("ana", Set("analysts")),
    Seq(allow("orders", "lineitem", "nation", "region", "meta")))
  val Finance = Identity(TableAcl.Identity("fin", Set("finance", "analysts")),
    Seq(allow("*")))

  val Grants: Map[String, TableAcl.TableGrants] = Map(
    "orders" -> TableAcl.TableGrants(Set("etl"), Set("analysts", "finance")),
    "lineitem" -> TableAcl.TableGrants(Set("etl"), Set("analysts")),
    "customer" -> TableAcl.TableGrants(Set("crm"), Set("finance")),
    "nation" -> TableAcl.TableGrants(Set("etl"), Set("analysts")),
    "region" -> TableAcl.TableGrants(Set("etl"), Set("analysts")),
    "meta" -> TableAcl.TableGrants(Set("etl"), Set("analysts")))

  /** One request. `sql`/`find`/`meta` carry its text or parameters. */
  final case class Request(kind: String, who: Identity, sql: String,
      key: Long, custkey: Long, minPrice: Long, user: String, db: String,
      prefix: String, lo: Long, width: Long, nation: Long) {
    def refused: Boolean = kind.startsWith("refused")
  }

  def request(seed: Long, stream: Long, i: Long): Request = {
    val r = Rng.at(seed, stream, i)
    val kind = Pattern((i % Pattern.size).toInt)
    val key = 1 + r.nextLong(Orders)
    val cust = 1 + r.nextLong(Customers)
    val lo = 1 + r.nextLong(Orders - 200)
    val width = 10 + r.nextLong(190)
    val nation = r.nextLong(25)
    val minPrice = r.nextLong(40000000L)
    val user = s"user${r.nextInt(8)}"
    val db = Dbs(r.nextInt(Dbs.size))
    val prefix = Prefixes(r.nextInt(Prefixes.size))
    val (who, sql) = kind match {
      case "sql_point" => (Analyst, "SELECT o_orderkey, o_custkey, " +
        s"o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = $key")
      case "sql_agg" => (Analyst, "SELECT count(*) AS n, sum(l_quantity) " +
        s"AS q FROM lineitem WHERE l_orderkey BETWEEN $lo AND ${lo + width}")
      case "sql_join" => (Finance, "SELECT c.c_mktsegment, count(*) AS n, " +
        "sum(o.o_totalprice) AS p FROM orders o JOIN customer c " +
        s"ON o.o_custkey = c.c_custkey WHERE c.c_nationkey = $nation " +
        "AND o.o_orderstatus = 'F' GROUP BY c.c_mktsegment")
      case "refused_table" => (Analyst, "SELECT c_name, c_acctbal FROM " +
        s"customer WHERE c_custkey = $cust")
      case "refused_dml" => (Finance, Vector(
        s"INSERT INTO orders SELECT * FROM orders WHERE o_orderkey = $key",
        s"DELETE FROM orders WHERE o_orderkey = $key",
        s"UPDATE orders SET o_orderstatus = 'F' WHERE o_orderkey = $key")(
        r.nextInt(3)))
      case _ => (Analyst, "")
    }
    Request(kind, who, sql, key, cust, minPrice, user, db, prefix, lo, width,
      nation)
  }

  // ---- the tables, as Spark expressions and as their Scala mirror -------

  final case class Tables(salt: Long) {
    private def h(x: Long, a: Long, m: Long): Long = Math.floorMod(x * a + salt, m)
    private def e(x: String, a: Long, m: Long) = s"pmod($x * $a + $salt, $m)"

    def custOf(o: Long): Long = h(o, 7919, Customers) + 1
    def status(o: Long): String = Status(h(o, 13, 3).toInt)
    def price(o: Long): Long = h(o, 104729, 50000000L) + 100
    def quantity(line: Long): Long = h(line, 37, 50) + 1
    def nationOf(c: Long): Long = h(c, 31, 25)
    def segment(c: Long): String = Segments(h(c, 17, 5).toInt)
    def metaDb(i: Long): String = Dbs(h(i, 3, 4).toInt)
    def metaTable(i: Long): String = Prefixes(h(i, 5, 4).toInt) + i
    def metaOwners(i: Long): String = s"user${h(i, 7, 8)}"
    def metaAccess(i: Long): String = s"user${h(i, 11, 8)},user${h(i, 13, 8)}"
    def metaArchived(i: Long): Boolean = h(i, 17, 10) == 0
    def metaTime(i: Long): Long = 1700000000L + i * 60

    private def pick(xs: Seq[String], idx: String) =
      xs.map("'" + _ + "'").mkString("element_at(array(", ",", s"), cast($idx AS INT) + 1)")

    /** (name, rows, columns as SQL expressions over `id`). */
    def defs: Seq[(String, Long, Seq[String])] = Seq(
      ("orders", Orders, Seq("id + 1 AS o_orderkey",
        s"${e("(id + 1)", 7919, Customers)} + 1 AS o_custkey",
        s"${pick(Status, e("(id + 1)", 13, 3))} AS o_orderstatus",
        s"${e("(id + 1)", 104729, 50000000L)} + 100 AS o_totalprice",
        s"${pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), e("(id + 1)", 7, 5))} AS o_orderpriority")),
      ("lineitem", Orders * LinesPerOrder, Seq(
        s"id div $LinesPerOrder + 1 AS l_orderkey",
        s"id % $LinesPerOrder + 1 AS l_linenumber",
        s"${e("id", 7919, 20000)} + 1 AS l_partkey",
        s"${e("id", 31, 1000)} + 1 AS l_suppkey",
        s"${e("id", 37, 50)} + 1 AS l_quantity",
        s"${e("id", 104729, 10000000L)} AS l_extendedprice",
        s"${e("id", 13, 11)} AS l_discount",
        s"${pick(Seq("A", "N", "R"), e("id", 7, 3))} AS l_returnflag")),
      ("customer", Customers, Seq("id + 1 AS c_custkey",
        "concat('Customer#', id + 1) AS c_name",
        s"${e("(id + 1)", 31, 25)} AS c_nationkey",
        s"${e("(id + 1)", 7919, 1100000)} - 100000 AS c_acctbal",
        s"${pick(Segments, e("(id + 1)", 17, 5))} AS c_mktsegment")),
      ("nation", 25L, Seq("id AS n_nationkey",
        "concat('NATION_', id) AS n_name", "id % 5 AS n_regionkey")),
      ("region", 5L, Seq("id AS r_regionkey", "concat('REGION_', id) AS r_name")),
      ("meta", MetaRows, Seq("concat('q', lpad(cast(id AS STRING), 5, '0')) AS QueryId",
        s"${pick(Dbs, e("id", 3, 4))} AS DatabaseName",
        s"concat(${pick(Prefixes, e("id", 5, 4))}, id) AS TableName",
        s"concat('user', ${e("id", 7, 8)}) AS Owners",
        s"concat('user', ${e("id", 11, 8)}, ',user', ${e("id", 13, 8)}) AS Access",
        s"${e("id", 17, 10)} = 0 AS Archive",
        "CASE WHEN id % 2 = 0 THEN 'C' ELSE 'A' END AS QueryType",
        "1700000000 + id * 60 AS UnixTime")))

    /** The expected result rows of an allowed request, rendered like
      * [[InteractiveQuery.render]] renders Spark's. */
    def expected(q: Request): Seq[String] = q.kind match {
      case "sql_point" =>
        val k = q.key
        Seq(s"$k|${custOf(k)}|${status(k)}|${price(k)}")
      case "sql_agg" =>
        val lines = (q.lo - 1) * LinesPerOrder until
          (q.lo + q.width) * LinesPerOrder
        Seq(s"${lines.size}|${lines.map(quantity).sum}")
      case "sql_join" =>
        (1L to Orders).filter(o => status(o) == "F" &&
            nationOf(custOf(o)) == q.nation)
          .groupBy(o => segment(custOf(o))).toSeq
          .map { case (seg, os) => s"$seg|${os.size}|${os.map(price).sum}" }
          .sorted
      case "find" =>
        (1L to Orders).filter(o => custOf(o) == q.custkey &&
          price(o) > q.minPrice).map(_.toString).sorted
      case "meta" =>
        (0L until MetaRows).filter(i => metaDb(i) == q.db &&
            metaTable(i).startsWith(q.prefix) && !metaArchived(i) &&
            (metaOwners(i).split(",").contains(q.user) ||
              metaAccess(i).split(",").contains(q.user)))
          .sortBy(i => -metaTime(i)).take(20).map(i => f"q$i%05d")
    }
  }

  def render(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.toSeq.map(_.toSeq.map(String.valueOf).mkString("|"))
}

final class InteractiveQuery extends Workload {
  import InteractiveQuery._

  private var tables: Tables = _
  private val refused = new AtomicLong(0L)

  def setup(ctx: Ctx): Unit = {
    tables = Tables(Rng.at(ctx.seed, Rng.Inputs, 0L).nextLong(1000000L))
    val dir = new File(ctx.work, "tables")
    tables.defs.foreach { case (name, rows, cols) =>
      val path = new File(dir, name).getAbsolutePath
      ctx.spark.range(rows).selectExpr(cols: _*)
        .write.mode("overwrite").parquet(path)
      ctx.spark.read.parquet(path).createOrReplaceTempView(name)
      ctx.mark(name)
    }
    Loop.warm(Pattern.size, ctx.trace)(i =>
      op(ctx, request(ctx.seed, Rng.Warmup, i)))
    refused.set(0L)
  }

  private def allowed(ctx: Ctx, who: Identity): Set[String] =
    ctx.trace.span("auth.decide")(
      TableAcl.allowedTables(who.id, Grants, TableAcl.Query).filter(t =>
        IamPolicy.evaluate(who.policies, "sql:Select", s"table/$t") ==
          IamPolicy.Allowed))

  /** Left = refused with this message; Right = the result rows. */
  private def call(ctx: Ctx, q: Request): Either[String, Seq[String]] = {
    val spark = ctx.spark
    val acl = allowed(ctx, q.who)
    try {
      val df = q.kind match {
        case "find" => ctx.trace.span("operators.build")(
          FindDsl.findAll(spark.table("orders"),
            s"""{"o_custkey": ${q.custkey}, "o_totalprice": {"<gt>": ${q.minPrice}}}""")
            .select("o_orderkey"))
        case "meta" => ctx.trace.span("operators.build")(
          NoSqlDsl.run(NoSqlDsl.visibilityFilter(spark.table("meta"),
              q.user, isAdmin = false),
            NoSqlDsl.Query(
              keyConditions = Seq(NoSqlDsl.Eq("DatabaseName", q.db)),
              filters = Seq(NoSqlDsl.BeginsWith("TableName", q.prefix)),
              orderBy = Some(("UnixTime", false)), limit = Some(20),
              dropArchived = true)).select("QueryId"))
        case _ => ctx.trace.span("plans.guard")(
          ReadOnlyGuard.query(spark, q.sql, Some(acl)))
      }
      Right(render(df.collect()))
    } catch { case e: SecurityException => Left(e.getMessage) }
  }

  private def op(ctx: Ctx, q: Request): Op[Either[String, Seq[String]]] =
    Op(q.kind, () => call(ctx, q), {
      case Left(msg) =>
        if (q.refused) refused.incrementAndGet()
        Done(0L, 0L, Option.when(!q.refused)(s"refused: $msg"))
      case Right(rows) =>
        val want = tables.expected(q)
        val same = if (q.kind == "meta") rows == want else rows.sorted == want
        Done(0L, rows.size.toLong,
          if (q.refused) Some("not refused")
          else Option.when(!same)(
            s"${rows.size} rows differ from the ${want.size} expected"))
    })

  def run(ctx: Ctx): Timed = {
    refused.set(0L)
    val loop = Loop.closed(2, ctx.seconds, ctx.trace)(i =>
      op(ctx, request(ctx.seed, Rng.Timed, i)))
    Timed(loop, counters = Map("refused" -> refused.get.toDouble))
  }
}
