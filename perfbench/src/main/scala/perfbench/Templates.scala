package perfbench

import graft.Tables.dsumSql
import scala.util.Random

/** One generated config: the JSON a user hands `graft.Run`, the Spark SQL
  * query that must give the same rows, and the source rows it reads. */
final case class Config(template: String, json: String, sql: String, sourceRows: Long)

/** Config templates drawn from the reference's shapes (FIXTURES.md
  * "Representative config-shaped test inputs"). Each draws its
  * parameters from the generator it is given; the SQL twin is built from
  * the same parameters. Sources are the views `Tables.registerViews`
  * registers, so both sides read the same tables. */
final class Templates(s: Scale) {
  private val n = Map(
    "orders" -> s.orders, "lineitem" -> s.lineitems, "customer" -> s.customers,
    "nation" -> 25L, "events" -> s.events, "documents" -> s.documents)

  private def q(x: String) = "\"" + x + "\""
  private def arr(xs: Seq[String]) = xs.map(q).mkString("[", ", ", "]")
  private def sqlIn(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ", ", ")")
  private def subset(r: Random, xs: Seq[String], min: Int): Seq[String] =
    r.shuffle(xs).take(min + r.nextInt(xs.size - min + 1)).sorted

  /** filter and keep: structured and expression filters, projection and
    * rename on orders. */
  def filterKeep(r: Random): Config = {
    val price = 1000 * (50 + r.nextInt(300))
    val prios = subset(r, Data.priorities, 2)
    val mod = 2 + r.nextInt(4); val rem = r.nextInt(mod)
    Config("filter_keep", s"""
      {"source": {"table": "orders"},
       "filters": [{"col": "o_totalprice", "op": ">", "value": $price},
                   {"col": "o_orderpriority", "op": "isin", "value": ${arr(prios)}},
                   "o_custkey % $mod = $rem"],
       "keep_columns": ["o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"],
       "rename": {"o_totalprice": "price"},
       "order_by": ["o_orderkey asc"]}""", s"""
      SELECT o_orderkey, o_custkey, o_totalprice AS price, o_orderpriority
      FROM orders
      WHERE o_totalprice > $price AND o_orderpriority IN ${sqlIn(prios)}
        AND o_custkey % $mod = $rem""", n("orders"))
  }

  /** multi-function aggregation with rename: `{col: [funcs]}` fan-out. */
  def aggRename(r: Random): Config = {
    val keys = Seq(Seq("l_suppkey"), Seq("l_returnflag", "l_linestatus"),
      Seq("l_linenumber", "l_returnflag"))(r.nextInt(3))
    val qty = 1 + r.nextInt(40)
    Config("agg_rename", s"""
      {"source": {"table": "lineitem"},
       "filters": [{"col": "l_quantity", "op": ">", "value": $qty}],
       "aggregation": {
         "group_by": ${arr(keys)},
         "aggregations": {"l_quantity": ["dsum", "max", "min"],
                          "l_discount": ["max"]}},
       "rename": {"dsum_l_quantity": "sum_qty", "max_l_quantity": "max_qty",
                  "min_l_quantity": "min_qty", "max_l_discount": "max_disc"},
       "order_by": ["${keys.head} asc"]}""", s"""
      SELECT ${keys.mkString(", ")}, ${dsumSql("l_quantity")} AS sum_qty,
             MAX(l_quantity) AS max_qty, MIN(l_quantity) AS min_qty,
             MAX(l_discount) AS max_disc
      FROM lineitem WHERE l_quantity > $qty
      GROUP BY ${keys.mkString(", ")}""", n("lineitem"))
  }

  /** iteration×level cascade: level 2 re-aggregates level 1. */
  def cascade(r: Random): Config = {
    val qty = 1 + r.nextInt(30)
    val status = Seq("O", "F")(r.nextInt(2))
    val minN = 1 + r.nextInt(8)
    Config("cascade", s"""
      {"source": {"table": "lineitem"},
       "iterations": [{
         "id": "it1",
         "levels": [
           {"filters": ["l_quantity > $qty",
                        {"col": "l_linestatus", "op": "!=", "value": "$status"}],
            "group_by": ["l_suppkey", "l_returnflag"],
            "aggregations": [
              {"col": "l_quantity", "func": "dsum", "new_name": "sum_qty"},
              {"col": "l_extendedprice", "func": "dsum", "new_name": "sum_price"},
              {"col": "*", "func": "count", "new_name": "n"}]},
           {"filters": ["n >= $minN"],
            "group_by": ["l_returnflag"],
            "aggregations": [
              {"col": "sum_qty", "func": "dsum", "new_name": "qty_total"},
              {"col": "sum_price", "func": "max", "new_name": "max_price"},
              {"col": "n", "func": "sum", "new_name": "n_total"}],
            "order_by": ["l_returnflag asc"]}]}]}""", s"""
      WITH l1 AS (
        SELECT l_suppkey, l_returnflag,
               ${dsumSql("l_quantity")} AS sum_qty,
               ${dsumSql("l_extendedprice")} AS sum_price, COUNT(*) AS n
        FROM lineitem WHERE l_quantity > $qty AND l_linestatus <> '$status'
        GROUP BY 1, 2)
      SELECT l_returnflag, ${dsumSql("sum_qty")} AS qty_total,
             MAX(sum_price) AS max_price, SUM(n) AS n_total
      FROM l1 WHERE n >= $minN GROUP BY 1""", n("lineitem"))
  }

  /** filtered aggregates with bitemporal columns (hotrod/soundwave):
    * `{col: {function, filter}}` spelling, a derived group key and
    * as-of stamps with custom column names. */
  def filteredAgg(r: Random): Config = {
    val dropped = Data.eventTypes(r.nextInt(Data.eventTypes.size))
    val big = 10 * (1 + r.nextInt(8))
    val buckets = 2 + r.nextInt(15)
    val asOf = f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    Config("filtered_agg", s"""
      {"source": {"table": "events"},
       "filters": [{"col": "event_type", "op": "!=", "value": "$dropped"}],
       "derive": {"bucket": "user_id % $buckets"},
       "group_by": ["event_type", "bucket"],
       "aggregate": {
         "value": {"function": "davg", "filter": "value > $big", "new_name": "avg_big"},
         "event_id": {"function": "count", "new_name": "n_events"},
         "user_id": {"function": "count_distinct", "new_name": "n_users"}},
       "bitemporal": {"valid_from": "$asOf", "valid_to": "9999-12-31",
                      "from_col": "as_of", "to_col": "valid_until"},
       "order_by": ["event_type asc", "bucket asc"]}""", s"""
      SELECT event_type, user_id % $buckets AS bucket,
             ${dsumSql(s"CASE WHEN value > $big THEN value END")} /
               COUNT(CASE WHEN value > $big THEN value END) AS avg_big,
             COUNT(event_id) AS n_events, COUNT(DISTINCT user_id) AS n_users,
             '$asOf' AS as_of, '9999-12-31' AS valid_until
      FROM events WHERE event_type <> '$dropped'
      GROUP BY 1, 2""", n("events"))
  }

  /** parent→child→grandchild join tree: orders aggregated per customer,
    * joined to the filtered customer dimension, which left-joins nation. */
  def joinTree(r: Random): Config = {
    val status = subset(r, Seq("F", "O", "P"), 1)
    val segs = subset(r, Data.segments, 2)
    Config("join_tree", s"""
      {"id": "par",
       "source": {"table": "orders"},
       "filters": [{"col": "o_orderstatus", "op": "isin", "value": ${arr(status)}}],
       "group_by": ["o_custkey"],
       "aggregations": [
         {"col": "*", "func": "count", "new_name": "n_orders"},
         {"col": "o_totalprice", "func": "dsum", "new_name": "sum_price"}],
       "children": [{
          "id": "cust",
          "source": {"table": "customer"},
          "filters": [{"col": "c_mktsegment", "op": "isin", "value": ${arr(segs)}}],
          "keep_columns": ["c_custkey", "c_nationkey", "c_mktsegment"],
          "rename": {"c_custkey": "o_custkey"},
          "join": {"on": ["o_custkey"], "how": "inner"},
          "children": [{
             "id": "nat",
             "source": {"table": "nation"},
             "keep_columns": ["n_nationkey", "n_name"],
             "rename": {"n_nationkey": "c_nationkey"},
             "join": {"on": ["c_nationkey"], "how": "left"}}]}],
       "order_by": ["o_custkey asc"]}""", s"""
      WITH par AS (
        SELECT o_custkey, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
        FROM orders WHERE o_orderstatus IN ${sqlIn(status)} GROUP BY 1),
      cust AS (
        SELECT c_custkey AS o_custkey, c_nationkey, c_mktsegment, n_name
        FROM customer
        LEFT JOIN (SELECT n_nationkey AS c_nationkey, n_name FROM nation) n
        USING (c_nationkey)
        WHERE c_mktsegment IN ${sqlIn(segs)})
      SELECT par.o_custkey, n_orders, sum_price, c_nationkey, c_mktsegment, n_name
      FROM par JOIN cust USING (o_custkey)""",
      n("orders") + n("customer") + n("nation"))
  }

  /** text-curation derive plus dedup: normalize and count tokens, filter
    * on them, keep the min-id document per normalized text. */
  def curation(r: Random): Config = {
    val minTok = 40 + r.nextInt(60)
    val langs = subset(r, Data.langs, 2)
    Config("curation", s"""
      {"source": {"table": "documents"},
       "derive": {"norm": "normalize_text(text)", "ntok": "token_count(text)"},
       "filters": ["ntok >= $minTok",
                   {"col": "lang", "op": "isin", "value": ${arr(langs)}}],
       "dedup": {"keys": ["norm"], "id_col": "doc_id"},
       "keep_columns": ["doc_id", "lang", "ntok", "norm"]}""", s"""
      SELECT doc_id, lang, ntok, norm FROM (
        SELECT doc_id, lang, ntok, norm,
               ROW_NUMBER() OVER (PARTITION BY norm ORDER BY doc_id) AS rn
        FROM (SELECT doc_id, lang, normalize_text(text) AS norm,
                     token_count(text) AS ntok
              FROM documents)
        WHERE ntok >= $minTok AND lang IN ${sqlIn(langs)})
      WHERE rn = 1""", n("documents"))
  }
}

object Templates {
  /** The config_burst mix: one config of each template per round. */
  def all(t: Templates): Seq[Random => Config] =
    Seq(t.filterKeep, t.aggRename, t.cascade, t.filteredAgg, t.joinTree, t.curation)
}
