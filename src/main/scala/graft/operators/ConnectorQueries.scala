package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Queries that run through the graftbson DSv2 connector end-to-end —
  * write path (insert / upsert+$inc / update+$set) then read back through
  * the source with pushdown. Each invocation uses a fresh temp collection,
  * so results are deterministic and the DuckDB oracle (which never sees the
  * collection, only the parquet inputs) pins the final state.
  */
object ConnectorQueries {
  import Exact._

  /** Every temp collection this JVM creates, deleted recursively at JVM
    * exit: a query builder cannot delete after its caller's action (the
    * returned frame is consumed later, and Bench's cold runs re-invoke
    * the builder), so without the hook each bench round leaked 3+ full
    * corpus copies under /tmp — q100's kept corpus being the largest.
    */
  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempDirs.forEach { d =>
        val p = java.nio.file.Paths.get(d)
        if (Files.exists(p)) {
          val stream = Files.walk(p)
          try stream.sorted(java.util.Comparator.reverseOrder())
            .forEach(q => Files.deleteIfExists(q))
          finally stream.close()
        }
      }
    }))
  }

  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-conn").toString
    tempDirs.add(d)
    d
  }

  /** Where a query's seeded collection lives: a graftbson dump dir, or
    * (`ns` set) a graftserver namespace under a server dir. */
  private final case class Coll(dir: String, ns: String = "") {
    def format: String = if (ns.isEmpty) "graftbson" else "graftserver"
    def server: Map[String, String] =
      if (ns.isEmpty) Map.empty else Map("server_dir" -> dir, "ns" -> ns)
  }

  private implicit class Seed(df: DataFrame) {
    /** Appends the frame to a collection, `_id` taken from `idCol` (none
      * when empty): by default a FRESH one — a new graftbson dump dir, or
      * namespace `ns` of a new server dir. */
    def seed(idCol: String = "", ns: String = "", dir: String = freshDir(),
        opts: Map[String, String] = Map.empty): Coll = {
      val c = Coll(dir, ns)
      val w = df.write.format(c.format).options(c.server ++ opts).mode("append")
      val withId = if (idCol.isEmpty) w else w.option("id_column", idCol)
      if (ns.isEmpty) withId.save(dir) else withId.save()
      c
    }
  }

  /** Opens a seeded collection with `schema`; `uniform` sets
    * `assume_uniform_storage`, honest wherever this engine wrote every
    * doc. */
  private def open(s: SparkSession, c: Coll, schema: String, uniform: Boolean = false,
      opts: Map[String, String] = Map.empty): DataFrame = {
    val r = s.read.format(c.format).options(c.server ++ opts ++
      (if (uniform) Map("assume_uniform_storage" -> "true") else Map.empty)).schema(schema)
    if (c.ns.isEmpty) r.load(c.dir) else r.load()
  }

  val all: Seq[CatalogQuery] = Seq(

    // Round-trip: parquet -> BSON collection (insert, _id merge) -> DSv2
    // scan with filter+projection pushdown -> aggregate.
    CatalogQuery(
      "q31_bson_source_roundtrip",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_name", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
          .seed("c_custkey")
        // carry the writer's schema (the q100 deployment pattern): an
        // EMPTY input corpus leaves nothing to sample, and a read must
        // degrade to an empty result, not die in schema inference
        open(s, c, "_id LONG, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, " +
          "c_mktsegment STRING")
          .filter($"c_acctbal" > 0.0)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("sum_bal"))
          .orderBy($"c_mktsegment")
      },
      Some(s"""
        |SELECT c_mktsegment, count(*) AS n, ${dsumSql("c_acctbal")} AS sum_bal
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // Sensors log-count shape: per-key counts upserted with $inc into an
    // empty collection (examples/sensors/.../LogReducer.java:31-49), then
    // read back through the source.
    CatalogQuery(
      "q32_write_upsert_inc",
      (s, d) => {
        import s.implicits._
        val c = Tables.events(s, d)
          .groupBy($"user_id".as("_id")).agg(count(lit(1)).as("n"))
          .seed(opts = Map("mode" -> "upsert", "update_op" -> "inc"))
        open(s, c, "_id LONG, n LONG")
          .select($"_id", $"n")
          .orderBy($"_id")
      },
      Some("SELECT user_id AS _id, count(*) AS n FROM events GROUP BY 1 ORDER BY 1")),

    // Treasury update shape: insert per-year base rows, then $set the
    // aggregated average back onto them keyed by _id
    // (examples/treasury_yield/.../TreasuryYieldUpdateReducer.java:46-80).
    CatalogQuery(
      "q33_write_update_set",
      (s, d) => {
        import s.implicits._
        val byYear = Tables.orders(s, d)
          .groupBy(year($"o_orderdate").as("_id"))
        val c = byYear.agg(count(lit(1)).as("n_orders"))
          .seed()
        byYear.agg(davg($"o_totalprice").as("avg_price"))
          .seed(dir = c.dir, opts = Map("mode" -> "update", "update_op" -> "set"))
        open(s, c, "_id INT, n_orders LONG, avg_price DOUBLE")
          .select($"_id", $"n_orders", $"avg_price")
          .orderBy($"_id")
      },
      Some(s"""
        |SELECT CAST(year(o_orderdate) AS INT) AS _id, count(*) AS n_orders,
        |  ${davgSql("o_totalprice")} AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // GridFS-style text scan (shakespeare-prep shape,
    // examples/shakespeare/.../PrepareShakespeare.java:22+): documents
    // dumped as tab-separated text lines, re-read as per-chunk token rows
    // through the graftgridfs source, parsed and length-checked.
    CatalogQuery(
      "q34_gridfs_text_scan",
      (s, d) => {
        import s.implicits._
        val dir = freshDir()
        // a dump line cannot carry NULL — a NULL-text doc dumps as an
        // empty payload (and the oracle mirrors with coalesce), else the
        // whole line vanishes from the text file and the doc from the scan
        Tables.documents(s, d)
          .select(concat($"doc_id".cast("string"), lit("\t"),
            coalesce($"text", lit(""))))
          .write.mode("overwrite").text(s"$dir/txt")
        s.read.format("graftgridfs")
          .option("mode", "text").option("chunk_size", "65536")
          .load(s"$dir/txt")
          .filter(length($"token") > 0)
          .select(
            split($"token", "\t").getItem(0).cast("long").as("doc_id"),
            length(split($"token", "\t").getItem(1)).cast("long").as("n_chars_m"))
          .orderBy($"doc_id")
      },
      Some("SELECT doc_id, CAST(length(coalesce(text, '')) AS BIGINT) AS n_chars_m FROM documents ORDER BY doc_id")),

    // A global aggregate over a BSON dump: graftbson has no `$group` to
    // push to, so Spark's partial and final aggregates fold the pruned
    // scan (a projected decode of the three columns). Only a bare
    // COUNT(*) pushes, read from the dumps' side files with zero body
    // IO (AggPushdownSpec pins both plan shapes).
    CatalogQuery(
      "q58_agg_pushdown",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          // sharded store: the staged applies run as one executor task per
          // shard in parallel (a single-shard collection serializes the
          // whole apply through one task — the write, not the pushed
          // aggregate, dominates this query's wall time)
          .seed("o_orderkey", opts = Map("shards" -> "8"))
        open(s, c, "_id LONG, o_custkey LONG, o_totalprice DOUBLE")
          .agg(
            count(lit(1)).as("n"),
            min($"o_custkey").as("min_cust"),
            max($"o_custkey").as("max_cust"),
            max($"o_totalprice").as("max_price"))
      },
      Some("""
        |SELECT count(*) AS n, min(o_custkey) AS min_cust,
        |  max(o_custkey) AS max_cust, max(o_totalprice) AS max_price
        |FROM orders
        |""".stripMargin)),

    // Runtime (dynamic) filtering through the connector: a sharded
    // collection joined against a SELECTIVELY filtered dim — the shape
    // where Spark's PartitionPruning hands the scan the dim's join-key
    // IN-set (SupportsRuntimeV2Filtering) so only the owning shards /
    // key ranges are read (RuntimeFilterSpec pins the injection and the
    // partition counts; the oracle pins the values either way).
    CatalogQuery(
      "q66_runtime_prune",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_name", $"c_acctbal", $"c_mktsegment")
          .seed("c_custkey", opts = Map("shards" -> "8"))
        val hot = Tables.orders(s, d)
          .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 400000.0)
          .select($"o_custkey").distinct()
        val fact = open(s, c, "_id LONG, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING")
        fact.join(hot, fact("_id") === hot("o_custkey"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), dsum($"c_acctbal").as("sum_bal"))
          .orderBy($"c_mktsegment")
      },
      Some(s"""
        |WITH hot AS (SELECT DISTINCT o_custkey FROM orders
        |             WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000.0)
        |SELECT c_mktsegment, count(*) AS n, ${dsumSql("c_acctbal")} AS sum_bal
        |FROM customer JOIN hot ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // Live-server transport end-to-end (graftserver DSv2 over
    // ServerClient): distributed write through per-task batched
    // bulkWrites, then a cursor-per-split read — size-bounded split
    // planning, filter + projection pushdown on the server cursor —
    // the reference's primary mongod mode re-expressed
    // (core/.../input/MongoInputSplit.java:272-299, splitter chain
    // core/.../splitter/MongoSplitterFactory.java:49-106).
    CatalogQuery(
      "q69_server_roundtrip",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
          .seed("o_orderkey", ns = "db.orders")
        // 2 MB target splits: several cursor partitions at sf0.01+ without
        // asking the file-rooted fake transport (whose every cursor is a
        // full-store scan, unlike a real server's index-ranged cursors)
        // for dozens of passes
        open(s, c, "_id LONG, o_custkey LONG, o_totalprice DOUBLE, o_orderstatus STRING",
          opts = Map("split_size" -> (2L * 1024 * 1024).toString))
          .filter($"o_totalprice" > 1000.0)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"o_orderstatus")
      },
      Some(s"""
        |SELECT o_orderstatus, count(*) AS n, ${dsumSql("o_totalprice")} AS sum_price
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // Server-side global aggregate: COUNT(*)/MIN/MAX as one
    // `$group {_id: null}` pipeline per namespace (a bare COUNT(*) alone
    // would read collStats, the reference's collstats sizing,
    // core/.../splitter/MongoSplitterFactory.java:66-83). The plan shows
    // PushedGroupedAggregate: GLOBAL on the graftserver scan.
    CatalogQuery(
      "q70_server_agg_probes",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
          .seed("c_custkey", ns = "db.cust")
        open(s, c, "_id LONG, c_nationkey INT, c_acctbal DOUBLE")
          .agg(
            count(lit(1)).as("n"),
            min($"c_nationkey").as("min_nat"),
            max($"c_nationkey").as("max_nat"),
            max($"c_acctbal").as("max_bal"))
      },
      Some("""
        |SELECT count(*) AS n, min(c_nationkey) AS min_nat,
        |  max(c_nationkey) AS max_nat, max(c_acctbal) AS max_bal
        |FROM customer
        |""".stripMargin)),

    // GROUPED aggregate pushdown through the server source: the scan
    // plans ONE $match+$group pipeline per namespace (the reference's
    // server-side aggregate() pattern, SampleSplitter.java:79-88, applied
    // to the $group stage) and only #groups rows cross the wire; Spark's
    // final aggregate folds the partial rows, so multi-namespace unions
    // and storage-split groups merge correctly. The plan shows
    // PushedGroupedAggregate (GraftServerSourceSpec pins the plan shape
    // and the one-round-trip bound); the oracle pins the values — on the
    // NULL twin this also gates the NULL group and the server's
    // null-skipping min/max.
    CatalogQuery(
      "q121_server_group_pushdown",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
          .seed("c_custkey", ns = "db.gcust")
        // SUM over the Long _id needs the uniform opt-in (r13 gate: $sum
        // would skip a date-backed long) — honest here, this engine wrote
        // the collection
        open(s, c, "_id LONG, c_nationkey INT, c_acctbal DOUBLE", uniform = true)
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n"),
            count($"c_acctbal").as("n_bal"),
            min($"c_acctbal").as("min_bal"),
            max($"c_acctbal").as("max_bal"),
            sum($"_id").as("sum_key"))
          .orderBy($"c_nationkey".asc_nulls_first)
      },
      Some("""
        |SELECT c_nationkey, count(*) AS n, count(c_acctbal) AS n_bal,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM customer GROUP BY 1
        |ORDER BY c_nationkey ASC NULLS FIRST
        |""".stripMargin)),

    // TopN pushdown through the server source, oracle-gated: ORDER BY
    // _id LIMIT 20 plans as a per-cursor `sort(_id).limit(20)` (the
    // reference's cursor.sort().limit(), MongoInputSplit.java:281-296),
    // reported PARTIAL so Spark's TakeOrdered folds the per-partition
    // top-20s. Long keys ride the `assume_uniform_storage` opt-in —
    // honest here because THIS engine wrote the collection (RowCodec
    // stores Long as int64, always one BSON bracket). The plan shows
    // PushedTopN (TopNPushdownSpec pins the shape); the oracle pins the
    // rows — deterministic because _id is unique.
    CatalogQuery(
      "q122_server_topn",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.topn")
        open(s, c, "_id LONG, o_totalprice DOUBLE", uniform = true,
          opts = Map("split_size" -> (1L * 1024 * 1024).toString))
          .orderBy($"_id".desc)
          .limit(20)
          .select($"_id", $"o_totalprice")
      },
      Some("""
        |SELECT o_orderkey AS _id, o_totalprice FROM orders
        |ORDER BY _id DESC LIMIT 20
        |""".stripMargin)),

    // Multi-column TopN pushdown (round-12): ORDER BY a DESC, b ASC
    // LIMIT n — the common tie-broken shape — plans as ONE compound
    // cursor sort doc `{a: -1, b: 1}` per split (the reference's sort
    // doc is a full document, MongoInputSplit.java:281), reported
    // PARTIAL so Spark's TakeOrdered folds the per-cursor top-n's.
    // o_custkey carries real ties (a customer has many orders), so the
    // tie-break key (_id ASC under assume_uniform_storage — this engine
    // wrote the collection) decides rows, and _id-uniqueness makes the
    // oracle deterministic.
    CatalogQuery(
      "q123_server_topn_tiebreak",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.mtopn")
        open(s, c, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true,
          opts = Map("split_size" -> (1L * 1024 * 1024).toString))
          .orderBy($"o_custkey".desc, $"_id".asc)
          .limit(25)
          .select($"_id", $"o_custkey", $"o_totalprice")
      },
      Some("""
        |SELECT o_orderkey AS _id, o_custkey, o_totalprice FROM orders
        |ORDER BY o_custkey DESC, _id ASC LIMIT 25
        |""".stripMargin)),

    // Filtered GLOBAL aggregate pushdown through the server source
    // (round-12): `agg(...) WHERE f` plans as ONE `$match`+`$group
    // {_id: null}` pipeline round-trip, q70's pipeline under a filter
    // (answered server-side, SampleSplitter.java:79-88's aggregate()
    // pattern). AVG rides Spark's partial-pushdown rewrite
    // into SUM+COUNT partials, folded exactly. The plan shows
    // `PushedGroupedAggregate: GLOBAL` (GraftServerSourceSpec pins the
    // shape, the one-round-trip bound, and the zero-cursor property);
    // the oracle pins the values.
    CatalogQuery(
      "q124_server_filtered_agg",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.fagg")
        // exact aggregates only, so the oracle hash-matches: COUNT, a
        // LONG-column SUM/AVG (integer-exact partials; the IEEE division
        // of exact sums is the same op in both engines), and double
        // MIN/MAX (order-independent). A double SUM would either refuse
        // the pushdown (dsum's decimal cast is not a bare column) or
        // float-drift against the oracle. SUM/AVG over Long columns ride
        // the uniform opt-in (r13 gate).
        open(s, c, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true)
          .filter($"o_totalprice" > 50000.0)
          .agg(count(lit(1)).as("n"),
            sum($"o_custkey").as("sum_cust"),
            avg($"o_custkey").as("avg_cust"),
            min($"o_totalprice").as("min_price"),
            max($"o_totalprice").as("max_price"))
      },
      Some("""
        |SELECT count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(sum(o_custkey) AS DOUBLE) / count(o_custkey) AS avg_cust,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 50000.0
        |""".stripMargin)),

    // MULTI-KEY grouped aggregate pushdown (round-12): a two-column
    // GROUP BY renders as a compound `$group` `_id` doc
    // ({k1: "$k1", k2: "$k2"}) and still answers in one pipeline
    // round-trip; AVG again arrives as the SUM+COUNT rewrite, and the
    // partial protocol folds the per-namespace group rows. The compound
    // cursor sort doc is the reference's own shape
    // (MongoInputSplit.java:281 sorts a full document).
    CatalogQuery(
      "q125_server_multikey_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
            $"o_totalprice")
          .seed("o_orderkey", ns = "db.mkg")
        // SUM/AVG over the Long _id ride the uniform opt-in (r13 gate)
        open(s, c, "_id LONG, o_orderstatus STRING, o_orderpriority STRING, o_totalprice DOUBLE",
          uniform = true)
          .filter($"o_totalprice" > 1000.0)
          .groupBy($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"),
            sum($"_id").as("sum_key"),
            avg($"_id").as("avg_key"),
            max($"o_totalprice").as("max_price"))
          .orderBy($"o_orderstatus", $"o_orderpriority")
      },
      Some("""
        |SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(o_orderkey) AS DOUBLE) / count(o_orderkey) AS avg_key,
        |  max(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY 1, 2 ORDER BY 1, 2
        |""".stripMargin)),

    // Grouped aggregate over a BSON dump, the file-side counterpart of
    // q121's server pipeline: the pushed filter runs in the reader's
    // exact matcher over a projected decode (group key + aggregate
    // inputs; every other column byte-skipped, which AggPushdownSpec
    // proves with a corrupted non-key column), and Spark's partial and
    // final aggregates fold the rows. The oracle pins the values, incl.
    // the NULL-twin group and AVG.
    CatalogQuery(
      "q126_file_group_pushdown",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
          .seed("c_custkey")
        open(s, c, "_id LONG, c_nationkey INT, c_acctbal DOUBLE")
          .filter($"c_acctbal" > 0.0)
          .groupBy($"c_nationkey")
          .agg(count(lit(1)).as("n"),
            count($"c_acctbal").as("n_bal"),
            min($"c_acctbal").as("min_bal"),
            max($"c_acctbal").as("max_bal"),
            sum($"_id").as("sum_key"),
            avg($"_id").as("avg_key"))
          .orderBy($"c_nationkey".asc_nulls_first)
      },
      Some("""
        |SELECT c_nationkey, count(*) AS n, count(c_acctbal) AS n_bal,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key,
        |  CAST(sum(c_custkey) AS DOUBLE) / count(c_custkey) AS avg_key
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY 1 ORDER BY c_nationkey ASC NULLS FIRST
        |""".stripMargin)),

    // FILE-source TopN pushdown, now DESC + tie-broken (round-12;
    // previously spec-only and single-ASC): ORDER BY price DESC, _id ASC
    // LIMIT n plans as a bounded per-split selection by the READ values
    // (exact long/double keys — no BSON-bracket caveats and no
    // uniform-storage opt-in needed on the file path), folded by Spark's
    // TakeOrdered. _id-uniqueness makes the oracle deterministic.
    CatalogQuery(
      "q127_file_topn_desc",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_totalprice")
          .seed("o_orderkey")
        open(s, c, "_id LONG, o_totalprice DOUBLE")
          .orderBy($"o_totalprice".desc, $"_id".asc)
          .limit(25)
          .select($"_id", $"o_totalprice")
      },
      Some("""
        |SELECT o_orderkey AS _id, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, _id ASC LIMIT 25
        |""".stripMargin)),

    // DISTINCT pushdown through the server source (round-12): Spark
    // plans SELECT DISTINCT as a zero-aggregate group-by, which now
    // rides the same `$match`+`$group` pipeline with an `_id`-ONLY
    // group stage — #distinct-keys docs cross the wire instead of a row
    // scan (GraftServerSourceSpec pins one pipeline round-trip, zero
    // cursors). Compound keys exercise the compound `_id` doc.
    CatalogQuery(
      "q128_server_distinct",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_orderpriority",
            $"o_totalprice")
          .seed("o_orderkey", ns = "db.dist")
        open(s, c, "_id LONG, o_orderstatus STRING, o_orderpriority STRING, o_totalprice DOUBLE")
          .filter($"o_totalprice" > 10000.0)
          .select($"o_orderstatus", $"o_orderpriority").distinct()
          .orderBy($"o_orderstatus", $"o_orderpriority")
      },
      Some("""
        |SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |WHERE o_totalprice > 10000.0 ORDER BY 1, 2
        |""".stripMargin)),

    // DISTINCT over a BSON dump: a key-column-only projected decode
    // (bodies byte-skipped) with the pushed filter evaluated by the
    // reader's exact matcher; Spark's aggregate dedups the keys.
    CatalogQuery(
      "q129_file_distinct",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey", $"c_acctbal")
          .seed("c_custkey")
        open(s, c, "_id LONG, c_nationkey INT, c_acctbal DOUBLE")
          .filter($"c_acctbal" > 0.0)
          .select($"c_nationkey").distinct()
          .orderBy($"c_nationkey".asc_nulls_first)
      },
      Some("""
        |SELECT DISTINCT c_nationkey FROM customer
        |WHERE c_acctbal > 0.0 ORDER BY c_nationkey ASC NULLS FIRST
        |""".stripMargin)),

    // Structured Streaming TAILING read (round-12): the collection is
    // drained through the graftserver MICRO-BATCH STREAM (per-namespace
    // high-water-mark offsets, admission-controlled batch caps,
    // Trigger.AvailableNow) into a memory sink, then aggregated — so the
    // oracle (which only ever sees the parquet) pins that the streaming
    // ingest path loses and invents nothing. GraftServerStreamSpec pins
    // the streaming semantics proper (restart exactly-once, latest
    // start, per-batch caps, multi-ns offsets).
    CatalogQuery(
      "q130_stream_tail_ingest",
      (s, d) => {
        import s.implicits._
        val ckpt = freshDir()
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
          .seed("o_orderkey", ns = "db.tail")
        val sink = "q130_sink_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = s.readStream.format("graftserver").options(c.server)
          .schema("_id LONG, o_orderstatus STRING, o_totalprice DOUBLE")
          .load()
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            min($"o_totalprice").as("min_price"),
            max($"o_totalprice").as("max_price"))
          .orderBy($"o_orderstatus".asc_nulls_first)
      },
      Some("""
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus ASC NULLS FIRST
        |""".stripMargin)),

    // File-landing streaming read (round-12): the documents corpus is
    // materialized as a 4-shard dump directory, then drained through the
    // graftbson MICRO-BATCH STREAM (new-file tail by lexicographic path,
    // single high-water-path offset, byte-split parallelism within each
    // batch, Trigger.AvailableNow) into a memory sink and aggregated —
    // the oracle pins that the dump-landing ingest path loses and
    // invents nothing. GraftBsonStreamSpec pins the streaming semantics
    // (restart exactly-once, per-batch file caps, split parallelism).
    CatalogQuery(
      "q131_stream_file_ingest",
      (s, d) => {
        import s.implicits._
        val ckpt = freshDir()
        val c = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars")
          .seed("doc_id", opts = Map("shards" -> "4"))
        val sink = "q131_sink_" +
          java.util.UUID.randomUUID().toString.replace("-", "")
        val q = s.readStream.format("graftbson").option("path", c.dir)
          .schema("_id LONG, lang STRING, n_chars LONG")
          .load()
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        s.table(sink)
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"lang".asc_nulls_first)
      },
      Some("""
        |SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_key,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY lang ASC NULLS FIRST
        |""".stripMargin)),

    // TABLESAMPLE pushdown (round-12, SupportsPushDownTableSample):
    // df.sample over the file source plans as a DETERMINISTIC keyed
    // Bernoulli inside the scan — keep iff md5-prefix60("42:<_id>") <
    // floor(0.25·2^60) — so the Sample node disappears from the plan and
    // the window composes below the pushed filter, and Spark's aggregate
    // folds the sampled rows (SamplePushdownSpec pins plan shape, window
    // disjointness, and the mutual refusals with limit/top-n/offset). Unlike Spark's
    // per-partition-seeded Sample, the kept set is reproducible across
    // runs, partitionings and engines — which is exactly what lets THIS
    // oracle exist: DuckDB computes the identical predicate. At 100 TB
    // this is the subsample-for-ablation primitive: a seed is a dataset.
    CatalogQuery(
      "q132_file_sample_pushdown",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
          .seed("o_orderkey")
        open(s, c, "_id LONG, o_orderstatus STRING, o_totalprice DOUBLE",
          opts = Map("sample_key" -> "_id"))
          .sample(withReplacement = false, 0.25, seed = 42L)
          .filter($"o_totalprice" > 1000.0)
          .groupBy($"o_orderstatus")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"))
          .orderBy($"o_orderstatus".asc_nulls_first)
      },
      Some("""
        |SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders
        |WHERE o_totalprice > 1000.0
        |  AND CAST(concat('0x', substr(md5(concat('42:',
        |        CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
        |      < CAST(floor(0.25 * 1152921504606846976.0) AS BIGINT)
        |GROUP BY 1 ORDER BY o_orderstatus ASC NULLS FIRST
        |""".stripMargin)),

    // JOIN pushdown (round-12, SupportsPushDownJoin): an equi-join of
    // two collections on the same server plans as ONE `$lookup`+
    // `$unwind` pipeline over the driving collection — no Spark join
    // operator, no shuffle or broadcast of either collection; only
    // joined rows cross the wire, split-parallel under
    // `assume_uniform_storage` (JoinPushdownSpec pins the plan shape,
    // the one-pipeline-per-split transport bound, LEFT OUTER nulls, and
    // the refusals). The reference could only re-shuffle joins
    // client-side; this is its own server-side aggregate() pattern
    // (SampleSplitter.java:79-88) applied to the join. Both sides carry
    // pushed filters into the pipeline's $match stages; the colliding
    // `_id` columns exercise Spark's join-pushdown alias machinery.
    CatalogQuery(
      "q133_server_lookup_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.jorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .seed("c_custkey", ns = "db.jcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true)
          .filter($"o_totalprice" > 1000.0)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING, c_acctbal DOUBLE", uniform = true)
          .filter($"c_acctbal" > 0.0)
        o.join(c, o("o_custkey") === c("_id"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            dsum($"o_totalprice").as("sum_price"),
            sum($"o_custkey").as("sum_ck"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some(s"""
        |SELECT c_mktsegment, count(*) AS n,
        |  ${dsumSql("o_totalprice")} AS sum_price,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000.0 AND c_acctbal > 0.0
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // Aggregate pushed THROUGH the join (round-12): the GROUP BY
    // appends a `$group` stage to q133's `$lookup` pipeline — the whole
    // `SELECT k, agg(..) FROM a JOIN b GROUP BY k` is ONE server-side
    // pipeline and only #groups partial docs cross the wire per split
    // (q133 keeps its aggregate in Spark because dsum is an expression
    // input; this entry uses bare columns so the aggregate pushes too).
    // The plan shows `PushedJoin` AND `PushedGroupedAggregate`
    // (JoinPushdownSpec pins it plus the empty-match GLOBAL sentinel
    // and the limit-vs-agg exclusivity).
    CatalogQuery(
      "q134_server_join_agg",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.gorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .seed("c_custkey", ns = "db.gcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true)
          .filter($"o_totalprice" > 1000.0)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING, c_acctbal DOUBLE", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"),
            count($"c_acctbal").as("n_bal"),
            min($"o_totalprice").as("min_price"),
            max($"o_totalprice").as("max_price"),
            sum($"o_custkey").as("sum_ck"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n, count(c_acctbal) AS n_bal,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice > 1000.0
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // Nested-subfield projected decode (round-12): documents carry a
    // FAT nested struct (meta.blob = the full text, meta.small = a
    // number) and the query selects ONLY meta.small under the FULL
    // declared schema — Spark's nestedSchemaPruning hands the scan a
    // pruned inner StructType and the decoder's trie byte-skips
    // meta.blob at the SUBDOCUMENT level (NestedPruneSpec proves the
    // skip with a corrupted sibling; this entry pins the values). At
    // 100 TB this is the columnar-style IO prune for fat nested
    // documents.
    CatalogQuery(
      "q139_nested_prune",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            struct($"n_chars".as("small"), $"text".as("blob")).as("meta"))
          .seed("doc_id")
        open(s, c, "_id LONG, lang STRING, meta STRUCT<small: BIGINT, blob: STRING>")
          .select($"_id", $"lang", $"meta.small".as("n_chars"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("sum_chars"),
            sum($"_id").as("sum_key"))
          .orderBy($"lang".asc_nulls_first)
      },
      Some("""
        |SELECT lang, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_key
        |FROM documents GROUP BY 1 ORDER BY lang ASC NULLS FIRST
        |""".stripMargin)),

    // Provenance metadata column (round-12, SupportsMetadataColumns):
    // `_file` names the dump file each row decoded from — the lineage
    // handle a landing zone needs for selective reprocessing. Here two
    // landing files split orders by key parity and the report groups
    // row counts and key sums BY SOURCE FILE; the oracle derives the
    // same report from the parity. `_ns` is the server source's
    // equivalent (MetadataColumnsSpec pins both, incl. shadowing and
    // the residual-only filter rule).
    CatalogQuery(
      "q138_provenance_report",
      (s, d) => {
        import s.implicits._
        val dir = freshDir()
        val rows = Tables.orders(s, d)
          .select($"o_orderkey", $"o_totalprice")
        rows.filter($"o_orderkey" % 2 === 0).seed("o_orderkey", dir = s"$dir/even.bson")
        rows.filter($"o_orderkey" % 2 === 1).seed("o_orderkey", dir = s"$dir/odd.bson")
        open(s, Coll(dir), "_id LONG, o_totalprice DOUBLE")
          // each write lands a COLLECTION DIR (shard files inside), so
          // the per-source label is the parent directory of `_file`
          .groupBy(element_at(split(col("_file"), "/"), -2).as("src"))
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            dsum($"o_totalprice").as("sum_price"))
          .orderBy($"src")
      },
      Some(s"""
        |SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'even.bson'
        |            ELSE 'odd.bson' END AS src,
        |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  ${dsumSql("o_totalprice")} AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // Native streaming SINK, end-to-end (round-12): the documents
    // corpus lands as a dump directory, streams IN through the
    // graftbson micro-batch reader, and streams OUT through the NATIVE
    // graftbson StreamingWrite — each epoch runs the batch path's
    // two-phase staged commit with a durable epoch marker, so a
    // replayed epoch is a no-op (exactly-once into the collection;
    // GraftBsonStreamSpec pins the replay semantics directly). The
    // final read-back aggregate is pinned by the parquet oracle, so the
    // whole landing → stream → epoch-commit → shard-store → scan cycle
    // loses and invents nothing.
    CatalogQuery(
      "q137_stream_sink_build",
      (s, d) => {
        import s.implicits._
        val coll = freshDir()
        val ckpt = freshDir()
        val landing = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars")
          .seed("doc_id", opts = Map("shards" -> "4"))
        val q = s.readStream.format("graftbson").option("path", landing.dir)
          .schema("_id LONG, lang STRING, n_chars LONG")
          .load()
          .writeStream.format("graftbson")
          .option("path", coll).option("shards", "2")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        open(s, Coll(coll), "_id LONG, lang STRING, n_chars LONG")
          .groupBy($"lang")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            sum($"n_chars").as("sum_chars"))
          .orderBy($"lang".asc_nulls_first)
      },
      Some("""
        |SELECT lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_key,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1 ORDER BY lang ASC NULLS FIRST
        |""".stripMargin)),

    // Array-operator option queries (round-12): the reference ships
    // `mongo.input.query` verbatim, and real deployments use the array
    // surface constantly — $all / $size / $elemMatch / $mod now parse,
    // evaluate (BQuery matcher), and render (verbatim wire docs; the
    // stub parser inverts them with matches-parity, MongoDriverSpec).
    // The entry reads an array-bearing collection through an option
    // query combining all four and aggregates; the option query runs in
    // the reader's exact matcher. The oracle spells the same predicate
    // with DuckDB list functions.
    CatalogQuery(
      "q136_query_array_ops",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey",
            array(($"o_orderkey" % 7).cast("int"),
              ($"o_orderkey" % 5).cast("int"),
              ($"o_orderkey" % 3).cast("int")).as("arr"),
            $"o_totalprice")
          .seed("o_orderkey")
        open(s, c, "_id LONG, arr ARRAY<INT>, o_totalprice DOUBLE",
          opts = Map("query" -> """{"$and": [
              |  {"arr": {"$all": [1, 2]}},
              |  {"arr": {"$size": 3}},
              |  {"arr": {"$elemMatch": {"$gte": 4, "$lte": 6}}},
              |  {"_id": {"$mod": [2, 0]}}
              |]}""".stripMargin))
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            dsum($"o_totalprice").as("sum_price"))
      },
      Some(s"""
        |SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  ${dsumSql("o_totalprice")} AS sum_price
        |FROM (
        |  SELECT o_orderkey, o_totalprice,
        |    [CAST(o_orderkey % 7 AS INT), CAST(o_orderkey % 5 AS INT),
        |     CAST(o_orderkey % 3 AS INT)] AS arr
        |  FROM orders)
        |WHERE list_contains(arr, 1) AND list_contains(arr, 2)
        |  AND len(arr) = 3
        |  AND len(list_filter(arr, x -> x >= 4 AND x <= 6)) > 0
        |  AND o_orderkey % 2 = 0
        |""".stripMargin)),

    // Clean-corpus BUILD — the pipeline capstone: quality-gate (q81's
    // rules) + exact-dedup keep-first (q96's winner convention), then
    // MATERIALIZE the surviving corpus into a 4-shard collection through
    // the distributed write path (per-shard apply tasks, two-phase
    // commit) and report per-source kept counts READ BACK THROUGH THE
    // STORE — so the oracle (which never sees the collection) pins that
    // the full clean→dedup→shard-write→scan cycle loses and invents
    // nothing. Shape: one row-local scoring pass; the dedup winner
    // aggregate is the only content-keyed exchange (Catalyst prunes
    // tokenization out of that branch); the write applies one task per
    // shard; the read-back aggregate pushes its scan through the DSv2
    // source.
    CatalogQuery(
      "q100_clean_corpus_build",
      (s, d) => {
        import s.implicits._
        val base = Tables.documents(s, d)
          .select($"doc_id", $"source", $"text",
            TextQueries.qualityPass(
              graft.functions.Portable.spaceSplit($"text"),
              length($"text").cast("long")).as("pass"),
            graft.functions.Portable.hash60($"text").as("h"))
        val winners = base.groupBy($"h").agg(min($"doc_id").as("doc_id"))
        val kept = base
          .join(winners, Seq("h", "doc_id"))
          .filter($"pass")
          .select($"doc_id", $"source", $"text")
        val c = kept.seed("doc_id", opts = Map("shards" -> "4"))
        // read back with the writer's schema: schema inference over a
        // possibly-EMPTY collection (everything gated out) has nothing
        // to sample — the deployment pattern is to carry the schema
        s.read.format("graftbson").schema(kept.schema).load(c.dir)
          .groupBy($"source").agg(count(lit(1)).as("n_kept"))
          .orderBy($"source")
      },
      Some(s"""
        |WITH b AS (
        |  SELECT doc_id, source,
        |    ${TextQueries.qualityPassSql("string_split(text, ' ')",
               "CAST(length(text) AS BIGINT)")} AS pass,
        |    ${graft.functions.Portable.hash60Sql("text")} AS h
        |  FROM documents),
        |w AS (SELECT h, min(doc_id) AS doc_id FROM b GROUP BY h)
        |SELECT source, count(*) AS n_kept
        |FROM b JOIN w USING (h, doc_id)
        |WHERE pass
        |GROUP BY source ORDER BY source
        |""".stripMargin)),

    // NESTED dotted-path grouped-aggregate pushdown, SERVER source
    // (round-13): `GROUP BY meta.status` on a SUBDOCUMENT field plans as
    // the same one-round-trip `$match`+`$group` pipeline as a top-level
    // key — `$group: {_id: "$meta.status"}` is native MQL, and the
    // pushed filter renders on the dotted path too (dotted-path key
    // extraction is core reference behavior,
    // core/.../util/MongoPathRetriever.java:11-23; dotted-prefix column
    // mapping hive/.../HiveMongoInputFormat.java:211-240). Pre-r13 every
    // eligibility gate truncated at one name part, so this most-common
    // document-store shape fell back to a full scan. The plan shows
    // `PushedGroupedAggregate: GROUP BY meta.status`
    // (NestedPushdownSpec pins shape + the zero-cursor transport bound);
    // the oracle pins the values.
    CatalogQuery(
      "q140_server_nested_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey",
            struct($"o_orderstatus".as("status"), $"o_totalprice".as("price"))
              .as("meta"))
          .seed("o_orderkey", ns = "db.nestg")
        // SUM over the Long _id rides the uniform opt-in (r13 gate)
        open(s, c, "_id LONG, meta STRUCT<status: STRING, price: DOUBLE>", uniform = true)
          .filter($"meta.price" > 1000.0)
          .groupBy($"meta.status")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"),
            min($"meta.price").as("min_price"), max($"meta.price").as("max_price"))
          .toDF("status", "n", "sum_key", "min_price", "max_price")
          .orderBy($"status")
      },
      Some("""
        |SELECT o_orderstatus AS status, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // NESTED grouped aggregate over a BSON dump (round-13): Spark prunes
    // the scan to the dotted subpaths it needs — `meta.nat` and
    // `meta.bal` compile into the Proj trie and every sibling subfield
    // is byte-skipped (NestedPushdownSpec proves it with a
    // corrupted-sibling fixture) — and folds them as in q126.
    CatalogQuery(
      "q141_file_nested_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey",
            struct($"c_nationkey".as("nat"), $"c_acctbal".as("bal")).as("meta"))
          .seed("c_custkey")
        open(s, c, "_id LONG, meta STRUCT<nat: INT, bal: DOUBLE>")
          .filter($"meta.bal" > 0.0)
          .groupBy($"meta.nat")
          .agg(count(lit(1)).as("n"), count($"meta.bal").as("n_bal"),
            min($"meta.bal").as("min_bal"), max($"meta.bal").as("max_bal"),
            sum($"_id").as("sum_key"))
          .toDF("nat", "n", "n_bal", "min_bal", "max_bal", "sum_key")
          .orderBy($"nat".asc_nulls_first)
      },
      Some("""
        |SELECT c_nationkey AS nat, count(*) AS n, count(c_acctbal) AS n_bal,
        |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
        |  CAST(sum(c_custkey) AS BIGINT) AS sum_key
        |FROM customer WHERE c_acctbal > 0.0
        |GROUP BY 1 ORDER BY nat ASC NULLS FIRST
        |""".stripMargin)),

    // NESTED multi-column TopN pushdown, SERVER source (round-13):
    // `ORDER BY meta.price DESC, _id ASC LIMIT 25` renders the compound
    // cursor sort doc `{"meta.price": -1, "_id": 1}` — a dotted sort key
    // is native cursor behavior (MongoInputSplit.java:281's sort doc) —
    // with the usual bracket gates on the LEAF type (Double always;
    // the Long `_id` tiebreak under assume_uniform_storage, honest for
    // an engine-written collection). Spark folds the per-split top-25s.
    CatalogQuery(
      "q142_server_nested_topn",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey",
            struct($"o_totalprice".as("price")).as("meta"))
          .seed("o_orderkey", ns = "db.nestt")
        open(s, c, "_id LONG, meta STRUCT<price: DOUBLE>", uniform = true,
          opts = Map("split_size" -> (1L * 1024 * 1024).toString))
          .orderBy($"meta.price".desc, $"_id".asc)
          .limit(25)
          .select($"_id", $"meta.price".as("price"))
      },
      Some("""
        |SELECT o_orderkey AS _id, o_totalprice AS price FROM orders
        |ORDER BY o_totalprice DESC, _id ASC LIMIT 25
        |""".stripMargin)),

    // CHAINED 3-way `$lookup` join pushdown (round-13): the star query
    // orders ⋈ customer ⋈ nation — all three same-server collections —
    // plans as ONE pipeline per split: the base $lookup+$unwind, a
    // $project that flattens it, a second $lookup+$unwind, and the
    // GROUP BY nation pushed as the $group tail referencing the FINAL
    // flatten boundary. Zero Spark join operators, zero shuffles; only
    // #nations group-partial docs cross the wire per split
    // (JoinPushdownSpec pins the pipeline shape and the no-Spark-join
    // property). The reference always re-shuffled multi-collection
    // joins client-side.
    CatalogQuery(
      "q143_server_join_chain",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.ord3")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_nationkey")
          .seed("c_custkey", ns = "db.cust3", dir = c1.dir)
        val c3 = Tables.nation(s, d)
          .select($"n_nationkey", $"n_name")
          .seed("n_nationkey", ns = "db.nat3", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true)
        val c = open(s, c2, "_id LONG, c_nationkey INT", uniform = true)
        val n = open(s, c3, "_id INT, n_name STRING")
        o.join(c, o("o_custkey") === c("_id"))
          .join(n, c("c_nationkey") === n("_id"))
          .filter(o("o_totalprice") > 500.0)
          .groupBy($"n_name")
          .agg(count(lit(1)).as("n_orders"), sum(o("_id")).as("sum_key"),
            max(o("o_totalprice")).as("max_price"))
          .toDF("n_name", "n_orders", "sum_key", "max_price")
          .orderBy($"n_name")
      },
      Some("""
        |SELECT n_name, count(*) AS n_orders,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  max(o_totalprice) AS max_price
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_totalprice > 500.0
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // TopN THROUGH the pushed join (round-13): "top 25 orders with
    // customer names" plans as the `$lookup` pipeline with a
    // `$sort`+`$limit` tail — the joined rows never reach a Spark sort;
    // each split's pipeline returns its local top-25 and Spark's
    // TakeOrdered folds them (same partial protocol as the plain TopN).
    CatalogQuery(
      "q144_server_join_topn",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.ordt")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_name")
          .seed("c_custkey", ns = "db.custt", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true,
          opts = Map("split_size" -> (1L * 1024 * 1024).toString))
        val c = open(s, c2, "_id LONG, c_name STRING", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .select(o("_id").as("okey"), $"o_totalprice".as("price"), $"c_name")
          .orderBy($"price".desc, $"okey".asc)
          .limit(25)
      },
      Some("""
        |SELECT o_orderkey AS okey, o_totalprice AS price, c_name
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY price DESC, okey ASC LIMIT 25
        |""".stripMargin)),

    // NESTED join keys (round-13): the document-store norm of joining
    // on a SUBDOCUMENT field (`ref.custkey = _id`) pushes — the key
    // resolves through the struct-typed output to its leaf type for the
    // bracket gates, the `$expr` references the dotted doc path, and
    // the `let` var binds the projected struct's subfield. Grouped tail
    // composes on top (one pipeline, #groups docs cross).
    CatalogQuery(
      "q145_server_nested_join_key",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey",
            struct($"o_custkey".as("custkey")).as("ref"), $"o_totalprice")
          .seed("o_orderkey", ns = "db.ordn")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")
          .seed("c_custkey", ns = "db.custn", dir = c1.dir)
        val o = open(s, c1, "_id LONG, ref STRUCT<custkey: LONG>, o_totalprice DOUBLE",
          uniform = true)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING", uniform = true)
        o.join(c, o("ref.custkey") === c("_id"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(o("_id")).as("sum_key"))
          .toDF("c_mktsegment", "n", "sum_key")
          .orderBy($"c_mktsegment")
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // DATE-typed pushdown (round-13): DateType is a SINGLE-bracket read
    // (only BDate storage decodes to a Spark date) whose epoch-day floor
    // is monotone over BSON date order, so date GROUP keys and date
    // MIN/MAX aggregates push on both transports with no uniform-storage
    // opt-in — here dates ride the `$group` pipeline both as the group
    // key's sibling and as min/max inputs. Calendar keys are the
    // commonest grouping in any events/orders corpus.
    CatalogQuery(
      "q146_server_date_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderpriority",
            to_date($"o_orderdate").as("od"))
          .seed("o_orderkey", ns = "db.dateg")
        open(s, c, "_id LONG, o_orderpriority STRING, od DATE")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), min($"od").as("first_day"),
            max($"od").as("last_day"))
          .toDF("prio", "n", "first_day", "last_day")
          .orderBy($"prio")
      },
      Some("""
        |SELECT o_orderpriority AS prio, count(*) AS n,
        |  min(CAST(o_orderdate AS DATE)) AS first_day,
        |  max(CAST(o_orderdate AS DATE)) AS last_day
        |FROM orders GROUP BY 1 ORDER BY 1
        |""".stripMargin)),

    // Residual-tolerant join pushdown (round-14): a predicate NO source
    // can take — arithmetic across BOTH sides — used to demote the
    // pushed `$lookup` join to a full Spark shuffle join (Spark's
    // pushDownJoin needs bare scan inputs). The ResidualJoinHoist rule
    // parks it as a `recheck(...)` Filter ABOVE the join, so the plan
    // shows `PushedJoin` AND a whole-stage-codegen Spark Filter over the
    // joined scan — the reference's decomposePredicate discipline
    // (hive/.../MongoStorageHandler.java:100-128) applied to the join
    // pipeline (JoinResidualHoistSpec pins the shapes and refusals).
    CatalogQuery(
      "q147_server_join_recheck",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.rjorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment", $"c_acctbal")
          .seed("c_custkey", ns = "db.rjcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING, c_acctbal DOUBLE", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .filter(o("o_totalprice") + c("c_acctbal") > 2000.0)
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), sum($"o_custkey").as("sum_ck"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_ck
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_totalprice + c_acctbal > 2000.0
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // ASCII-bounded string RANGE pushdown (round-14): under uniform
    // storage, `c_name >= '<ascii>'` rewrites to an exact bracket
    // `$gte` (trichotomy against an all-ASCII bound is identical in
    // UTF-8-byte, UTF-16-unit, and binary-collation orders), so the
    // commonest string filter renders in `$match` and no longer blocks
    // the `$group` pipeline (TranslatorEdgeSpec pins the rewrite and
    // the supplementary-character refusal).
    CatalogQuery(
      "q148_server_string_range_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.customer(s, d)
          .select($"c_custkey", $"c_name", $"c_mktsegment")
          .seed("c_custkey", ns = "db.strrange")
        open(s, c, "_id LONG, c_name STRING, c_mktsegment STRING", uniform = true)
          .filter($"c_name" >= "Customer#000000500" &&
            $"c_name" < "Customer#000001000")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), min($"_id").as("min_ck"),
            max($"_id").as("max_ck"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n,
        |  min(c_custkey) AS min_ck, max(c_custkey) AS max_ck
        |FROM customer
        |WHERE c_name >= 'Customer#000000500' AND c_name < 'Customer#000001000'
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // Nested TopN over a pushed join (round-14): `ORDER BY meta.score
    // LIMIT n` above the join survives Catalyst's NestedColumnAliasing —
    // NestedExtractRelocate absorbs the extraction into the scan as a
    // column_mapping-derived flat column, so the join inputs stay
    // attribute-only and the order key reaches the pushed join's
    // `$sort`+`$limit` tail: "top 10 orders by nested score with
    // customer names" is ONE pipeline per split, no Spark join, no
    // Spark-side full sort (NestedTopnOverJoinSpec pins the shapes).
    CatalogQuery(
      "q149_server_join_nested_topn",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey",
            struct($"o_totalprice".as("score"), $"o_orderpriority".as("prio"))
              .as("meta"))
          .seed("o_orderkey", ns = "db.ntorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")
          .seed("c_custkey", ns = "db.ntcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, meta STRUCT<score: DOUBLE, prio: STRING>",
          uniform = true)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .select(o("_id").as("okey"), $"c_mktsegment".as("seg"),
            o("meta")("score").as("score"))
          .orderBy($"score".desc, $"okey".asc)
          .limit(10)
      },
      Some("""
        |SELECT o_orderkey AS okey, c_mktsegment AS seg,
        |  o_totalprice AS score
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY score DESC, okey ASC LIMIT 10
        |""".stripMargin)),

    // `$unwind` (explode) pushdown, SERVER transport (round-14): the
    // tags/tokens -> group-count shape (the Enron flatten,
    // examples/enron/.../EnronMailMapper.java:26-56, at corpus scale).
    // UnwindRelocate rewrites the Generate into the scan's unwind
    // directive; composed with the grouped aggregate the whole
    // `$match`+`$unwind`+`$group` runs as ONE server pipeline per
    // namespace — #distinct-tags docs cross the wire, never #tags rows
    // (UnwindPushdownSpec pins the shapes, element-filter residuals,
    // and the refusals).
    CatalogQuery(
      "q150_server_unwind_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            array($"lang", $"source").as("tags"))
          .seed("doc_id", ns = "db.uwdocs")
        open(s, c, "_id LONG, n_chars LONG, tags ARRAY<STRING>", uniform = true)
          .filter($"n_chars" > 100L)
          .select(explode($"tags").as("tag"))
          .groupBy($"tag").agg(count(lit(1)).as("n"))
          .orderBy($"tag".asc_nulls_first)
      },
      Some("""
        |SELECT tag, count(*) AS n FROM (
        |  SELECT lang AS tag FROM documents WHERE n_chars > 100
        |  UNION ALL
        |  SELECT source FROM documents WHERE n_chars > 100
        |) GROUP BY 1 ORDER BY tag ASC NULLS FIRST
        |""".stripMargin)),

    // `$unwind` pushdown, FILE transport (round-14): same rewrite — the
    // reader unwinds, so no Spark Generate runs, and Spark's aggregate
    // folds the unwound rows (UnwindFileSpec pins it).
    CatalogQuery(
      "q151_file_unwind_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"lang",
            array($"source", $"lang").as("tags"))
          .seed("doc_id")
        open(s, c, "_id LONG, lang STRING, tags ARRAY<STRING>")
          .filter($"lang" === "en")
          .select(explode($"tags").as("tag"))
          .groupBy($"tag").agg(count(lit(1)).as("n"))
          .orderBy($"tag".asc_nulls_first)
      },
      Some("""
        |SELECT tag, count(*) AS n FROM (
        |  SELECT source AS tag FROM documents WHERE lang = 'en'
        |  UNION ALL
        |  SELECT lang FROM documents WHERE lang = 'en'
        |) GROUP BY 1 ORDER BY tag ASC NULLS FIRST
        |""".stripMargin)),

    // TABLESAMPLE over a pushed join (round-14): the deterministic keyed
    // Bernoulli window commutes with the `$lookup` (each driving row's
    // join output is kept/dropped atomically with it), so a sampled
    // driving side no longer forfeits the join — the window is re-keyed
    // to the joined OUTPUT and the plan keeps `PushedJoin` with zero
    // Spark Sample/Join nodes. Reproducible join-shaped ablation subsets
    // become one seed (JoinSampleOffsetSpec pins both sides, the LOJ
    // matrix, the key-survival refusal, and the OFFSET `$skip` tail).
    CatalogQuery(
      "q152_server_join_sample",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .seed("o_orderkey", ns = "db.sjorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")
          .seed("c_custkey", ns = "db.sjcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, o_totalprice DOUBLE", uniform = true,
          opts = Map("sample_key" -> "_id"))
          .sample(withReplacement = false, 0.25, seed = 42L)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n"), sum(o("_id")).as("sum_key"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE CAST(concat('0x', substr(md5(concat('42:',
        |        CAST(o_orderkey AS VARCHAR))), 1, 15)) AS BIGINT)
        |      < CAST(floor(0.25 * 1152921504606846976.0) AS BIGINT)
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // POST-unwind `$match` (round-14): a filter on the UNWOUND element
    // column renders as a second `$match` BETWEEN `$unwind` and `$group`
    // (post-unwind the path holds the element, so the normal translation
    // carries Spark's row semantics exactly) — the whole
    // `$match`+`$unwind`+`$match`+`$group` runs as ONE server pipeline.
    // At 100 TB, "count docs per interesting tag" ships #kept-tags
    // group docs instead of every element row. UnwindPushdownSpec pins
    // the pipeline shape + the untranslatable-predicate refusal.
    CatalogQuery(
      "q153_server_unwind_filter_group",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            array($"lang", $"source").as("tags"))
          .seed("doc_id", ns = "db.uwfdocs")
        open(s, c1, "_id LONG, n_chars LONG, tags ARRAY<STRING>", uniform = true)
          .filter($"n_chars" > 100L)
          .select(explode($"tags").as("tag"))
          .filter($"tag" >= "c" && $"tag" < "t")
          .groupBy($"tag").agg(count(lit(1)).as("n"))
          .orderBy($"tag".asc_nulls_first)
      },
      Some("""
        |SELECT tag, count(*) AS n FROM (
        |  SELECT lang AS tag FROM documents WHERE n_chars > 100
        |  UNION ALL
        |  SELECT source FROM documents WHERE n_chars > 100
        |) WHERE tag >= 'c' AND tag < 't'
        |GROUP BY 1 ORDER BY tag ASC NULLS FIRST
        |""".stripMargin)),

    // Unwound-tail pushdown, SERVER (round-14): ORDER BY ... LIMIT over
    // an exploded scan runs as ONE $match+$unwind+$match+$sort+$limit
    // pipeline per namespace ([[ServerClient.unwoundRead]]) — a tail
    // must count UNWOUND rows, which find()'s parent-doc knobs cannot.
    // The output projects only PARENT columns so a limit cutting
    // mid-parent (intra-parent rows tie on every output column) stays
    // deterministic across engines. UnwindPushdownSpec pins the
    // pipeline + the string-key/ non-uniform refusals.
    CatalogQuery(
      "q154_server_unwind_topn",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            array($"lang", $"source").as("tags"))
          .seed("doc_id", ns = "db.uwtop")
        open(s, c1, "_id LONG, n_chars LONG, tags ARRAY<STRING>", uniform = true)
          .select($"_id".as("doc_id"), explode($"tags").as("tag"))
          .filter($"tag" >= "c" && $"tag" < "t")
          .orderBy($"doc_id".desc).limit(37)
          .select($"doc_id")
          .orderBy($"doc_id".desc)
      },
      Some("""
        |SELECT doc_id FROM (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, lang AS tag FROM documents
        |    UNION ALL
        |    SELECT doc_id, source FROM documents)
        |  WHERE tag >= 'c' AND tag < 't'
        |  ORDER BY doc_id DESC LIMIT 37)
        |ORDER BY doc_id DESC
        |""".stripMargin)),

    // Unwound-tail pushdown, FILE (round-14): the same tail runs in the
    // reader's post-unwind stage — the per-split bounded heap selects
    // among unwound rows by READ value (partial; Spark folds).
    CatalogQuery(
      "q155_file_unwind_topn",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            array($"lang", $"source").as("tags"))
          .seed("doc_id")
        open(s, c1, "_id LONG, n_chars LONG, tags ARRAY<STRING>")
          .select($"_id".as("doc_id"), explode($"tags").as("tag"))
          .filter($"tag" >= "c" && $"tag" < "t")
          .orderBy($"doc_id".desc).limit(37)
          .select($"doc_id")
          .orderBy($"doc_id".desc)
      },
      Some("""
        |SELECT doc_id FROM (
        |  SELECT doc_id FROM (
        |    SELECT doc_id, lang AS tag FROM documents
        |    UNION ALL
        |    SELECT doc_id, source FROM documents)
        |  WHERE tag >= 'c' AND tag < 't'
        |  ORDER BY doc_id DESC LIMIT 37)
        |ORDER BY doc_id DESC
        |""".stripMargin)),

    // TABLESAMPLE over an unwound scan (round-14): the deterministic
    // keyed window keys PARENTS (each parent's element rows are kept or
    // dropped atomically with it — the keyed-window sampling unit), so
    // the sample and the unwind compose in one reader pass per
    // byte-split, under Spark's aggregate. A reproducible "sample 25% of
    // docs, count exploded tags" — the ablation primitive over the
    // corpus's flattened shape. UnwindFileSpec pins parent atomicity
    // and the element-key refusal on both transports.
    CatalogQuery(
      "q156_file_unwind_sample",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            array($"lang", $"source").as("tags"))
          .seed("doc_id")
        open(s, c, "_id LONG, n_chars LONG, tags ARRAY<STRING>", opts = Map("sample_key" -> "_id"))
          .select($"_id", explode($"tags").as("tag"))
          .sample(withReplacement = false, 0.25, seed = 42L)
          .groupBy($"tag")
          .agg(count(lit(1)).as("n"), sum($"_id").as("sum_key"))
          .orderBy($"tag".asc_nulls_first)
      },
      Some("""
        |SELECT tag, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_key
        |FROM (
        |  SELECT doc_id, lang AS tag FROM documents
        |  UNION ALL
        |  SELECT doc_id, source FROM documents)
        |WHERE CAST(concat('0x', substr(md5(concat('42:',
        |        CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
        |      < CAST(floor(0.25 * 1152921504606846976.0) AS BIGINT)
        |GROUP BY 1 ORDER BY tag ASC NULLS FIRST
        |""".stripMargin)),

    // posexplode (round-14): `$unwind includeArrayIndex` semantics —
    // the element INDEX binds as the pos column. On the FILE source the
    // reader injects the index as a synthetic doc field, so pos
    // filters, GROUP keys, and tails all ride the normal machinery;
    // token-position analytics (positional n-gram stats, truncation
    // audits) run without a Spark Generate.
    CatalogQuery(
      "q157_file_posexplode_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", array($"lang", $"source").as("tags"))
          .seed("doc_id")
        open(s, c, "_id LONG, tags ARRAY<STRING>")
          .select(posexplode($"tags"))
          .groupBy($"pos", $"col").agg(count(lit(1)).as("n"))
          .orderBy($"pos".asc_nulls_first, $"col".asc_nulls_first)
      },
      Some("""
        |SELECT pos, tag AS col, count(*) AS n FROM (
        |  SELECT 0 AS pos, lang AS tag FROM documents
        |  UNION ALL
        |  SELECT 1, source FROM documents)
        |GROUP BY 1, 2 ORDER BY pos ASC NULLS FIRST, col ASC NULLS FIRST
        |""".stripMargin)),

    // posexplode, SERVER transport (round-14): the plain cursor still
    // streams PARENT docs (one array per parent crosses the wire) and
    // the reader binds each element's ORIGINAL index; the pos filter
    // pushes as the POST-unwind match over the includeArrayIndex shape
    // (the reader injects it before evaluating), and GROUP BY pos runs
    // as one includeArrayIndex pipeline (spec-pinned).
    CatalogQuery(
      "q158_server_posexplode",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", array($"lang", $"source").as("tags"))
          .seed("doc_id", ns = "db.uwpos")
        open(s, c, "_id LONG, tags ARRAY<STRING>")
          .select($"_id".as("doc_id"), posexplode($"tags"))
          .filter($"pos" === 1)
          .orderBy($"doc_id".asc)
      },
      Some("""
        |SELECT doc_id, pos, tag AS col FROM (
        |  SELECT doc_id, 0 AS pos, lang AS tag FROM documents
        |  UNION ALL
        |  SELECT doc_id, 1, source FROM documents)
        |WHERE pos = 1 ORDER BY doc_id ASC
        |""".stripMargin)),

    // posexplode + GROUP BY pos, SERVER (round-14): ONE
    // $match+$unwind(includeArrayIndex)+$group pipeline per namespace —
    // the element-position histogram (positional token stats at corpus
    // scale) answers in #positions docs; the int64 indexes a real
    // server emits narrow to the pos column's IntegerType at decode.
    CatalogQuery(
      "q159_server_posexplode_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", array($"lang", $"source").as("tags"))
          .seed("doc_id", ns = "db.uwposg")
        open(s, c, "_id LONG, tags ARRAY<STRING>")
          .select(posexplode($"tags"))
          .groupBy($"pos", $"col").agg(count(lit(1)).as("n"))
          .orderBy($"pos".asc_nulls_first, $"col".asc_nulls_first)
      },
      Some("""
        |SELECT pos, tag AS col, count(*) AS n FROM (
        |  SELECT 0 AS pos, lang AS tag FROM documents
        |  UNION ALL
        |  SELECT 1, source FROM documents)
        |GROUP BY 1, 2 ORDER BY pos ASC NULLS FIRST, col ASC NULLS FIRST
        |""".stripMargin)),

    // explode(array<struct>) with element-SUBFIELD keys, SERVER (r15):
    // the annotations/spans shape — each doc carries an array of
    // {lang, n} structs; a filter on `entry.lang` is the POST-unwind
    // `$match` (translated pre-unwind it would carry mongo's ∃-element
    // semantics and keep every element of a partly-matching parent),
    // `GROUP BY entry.lang` resolves through the element mapping to the
    // post-unwind doc path, and the whole
    // `$match`+`$unwind`+`$match`+`$group` runs as ONE pipeline per
    // namespace (UnwindPushdownSpec pins the shapes, the semantics twin,
    // and the merged-`$elemMatch` parent prune on subfields).
    CatalogQuery(
      "q160_server_unwind_struct",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", array(
            struct($"lang".as("lang"), $"n_chars".as("n")),
            struct($"source".as("lang"), (length($"text") % 97L).as("n")))
            .as("entries"))
          .seed("doc_id", ns = "db.uwstruct")
        open(s, c, "_id LONG, entries ARRAY<STRUCT<lang: STRING, n: LONG>>", uniform = true)
          .select(explode($"entries").as("entry"))
          .filter($"entry.n" >= 10L)
          .groupBy($"entry.lang".as("lang"))
          .agg(count(lit(1)).as("cnt"), sum($"entry.n").as("total"))
          .orderBy($"lang".asc_nulls_first)
      },
      Some("""
        |SELECT lang, count(*) AS cnt, CAST(sum(n) AS BIGINT) AS total
        |FROM (
        |  SELECT lang, n_chars AS n FROM documents
        |  UNION ALL
        |  SELECT source, length(text) % 97 FROM documents)
        |WHERE n >= 10 GROUP BY 1 ORDER BY lang ASC NULLS FIRST
        |""".stripMargin)),

    // explode(array<struct>) element-subfield keys, FILE transport
    // (r15): same rewrite — the reader unwinds struct elements and
    // evaluates the subfield filter per element; Spark folds them
    // (UnwindFileSpec pins shape + semantics).
    CatalogQuery(
      "q161_file_unwind_struct",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", array(
            struct($"lang".as("lang"), $"n_chars".as("n")),
            struct($"source".as("lang"), (length($"text") % 97L).as("n")))
            .as("entries"))
          .seed("doc_id")
        open(s, c, "_id LONG, entries ARRAY<STRUCT<lang: STRING, n: LONG>>")
          .select(explode($"entries").as("entry"))
          .filter($"entry.n" >= 10L)
          .groupBy($"entry.lang".as("lang"))
          .agg(count(lit(1)).as("cnt"), sum($"entry.n").as("total"))
          .orderBy($"lang".asc_nulls_first)
      },
      Some("""
        |SELECT lang, count(*) AS cnt, CAST(sum(n) AS BIGINT) AS total
        |FROM (
        |  SELECT lang, n_chars AS n FROM documents
        |  UNION ALL
        |  SELECT source, length(text) % 97 FROM documents)
        |WHERE n >= 10 GROUP BY 1 ORDER BY lang ASC NULLS FIRST
        |""".stripMargin)),

    // `$unwind` composed with the pushed join (r15): the corpus version
    // of the sensors enrichment (examples/sensors/.../DeviceReducer
    // .java:28-40, which re-reduced the flattened join client-side) —
    // "tags of orders with customer segments" runs as ONE
    // `$match`+`$unwind`+`$lookup`+`$group` pipeline per split
    // (UnwindRelocate transposes the explode below the join into the
    // driving leg; UnwindJoinSpec pins the shapes, the LEFT OUTER /
    // RIGHT OUTER / lookup-side refusal matrix, and the sampled twin).
    CatalogQuery(
      "q162_server_unwind_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey",
            array($"o_orderpriority", $"o_orderstatus").as("tags"))
          .seed("o_orderkey", ns = "db.ujorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")
          .seed("c_custkey", ns = "db.ujcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, o_custkey LONG, tags ARRAY<STRING>", uniform = true)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING", uniform = true)
        o.join(c, o("o_custkey") === c("_id"))
          .select($"c_mktsegment", explode($"tags").as("tag"))
          .groupBy($"c_mktsegment", $"tag").agg(count(lit(1)).as("n"))
          .orderBy($"c_mktsegment".asc_nulls_first, $"tag".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, tag, count(*) AS n FROM (
        |  SELECT o_custkey, o_orderpriority AS tag FROM orders
        |  UNION ALL
        |  SELECT o_custkey, o_orderstatus FROM orders)
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2
        |ORDER BY c_mktsegment ASC NULLS FIRST, tag ASC NULLS FIRST
        |""".stripMargin)),

    // The unwound ELEMENT as the JOIN key (r15): entity-reference
    // resolution — each doc carries an array of referenced ids; explode
    // then join the dimension. Post-unwind the array path holds the
    // element, so `$lookup`'s localField addresses it directly and the
    // whole resolve runs as ONE `$unwind`+`$lookup`+`$group` pipeline
    // (null/ dangling references drop under INNER, the element-scoped
    // non-null prune joins the post-unwind `$match`). UnwindJoinSpec
    // pins the shape; the live gate carries its wire twin.
    CatalogQuery(
      "q163_server_unwind_join_key",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.orders(s, d)
          .select($"o_orderkey",
            array($"o_custkey", ($"o_orderkey" % 1000L)).as("refs"))
          .seed("o_orderkey", ns = "db.ukorders")
        val c2 = Tables.customer(s, d)
          .select($"c_custkey", $"c_mktsegment")
          .seed("c_custkey", ns = "db.ukcust", dir = c1.dir)
        val o = open(s, c1, "_id LONG, refs ARRAY<LONG>", uniform = true)
        val c = open(s, c2, "_id LONG, c_mktsegment STRING", uniform = true)
        val e = o.select(explode($"refs").as("ref"))
        e.join(c, e("ref") === c("_id"))
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_refs"), sum($"ref").as("sum_ref"))
          .orderBy($"c_mktsegment".asc_nulls_first)
      },
      Some("""
        |SELECT c_mktsegment, count(*) AS n_refs,
        |  CAST(sum(ref) AS BIGINT) AS sum_ref
        |FROM (
        |  SELECT o_custkey AS ref FROM orders
        |  UNION ALL
        |  SELECT o_orderkey % 1000 FROM orders)
        |JOIN customer ON ref = c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST
        |""".stripMargin)),

    // MAP explode pushdown, SERVER (r15): per-doc metric MAPS — the
    // dynamic-keys shape corpus metadata actually takes — store as
    // subdocuments and `explode(mapCol)` compiles to the scan's
    // `$objectToArray`+`$unwind` directive; the value filter is the
    // POST-unwind `$match` and GROUP BY key folds in ONE pipeline per
    // namespace (MapUnwindSpec pins shapes, the empty/null-map OUTER
    // rows, and the non-document fail-loud rule).
    CatalogQuery(
      "q164_server_unwind_map",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", map(
            lit("nc"), $"n_chars",
            lit("lt"), (length($"text") % 97L).cast("long")).as("metrics"))
          .seed("doc_id", ns = "db.uwmap")
        open(s, c, "_id LONG, metrics MAP<STRING, LONG>", uniform = true)
          .select(explode($"metrics"))
          .filter($"value" >= 10L)
          .groupBy($"key".as("metric"))
          .agg(count(lit(1)).as("n"), sum($"value").as("total"))
          .orderBy($"metric".asc_nulls_first)
      },
      Some("""
        |SELECT metric, count(*) AS n, CAST(sum(v) AS BIGINT) AS total
        |FROM (
        |  SELECT 'nc' AS metric, n_chars AS v FROM documents
        |  UNION ALL
        |  SELECT 'lt', length(text) % 97 FROM documents)
        |WHERE v >= 10 GROUP BY 1 ORDER BY metric ASC NULLS FIRST
        |""".stripMargin)),

    // MAP explode pushdown, FILE transport (r15): same rewrite — the
    // reader unwinds kv entry docs; Spark folds them.
    CatalogQuery(
      "q165_file_unwind_map",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", map(
            lit("nc"), $"n_chars",
            lit("lt"), (length($"text") % 97L).cast("long")).as("metrics"))
          .seed("doc_id")
        open(s, c, "_id LONG, metrics MAP<STRING, LONG>")
          .select(explode($"metrics"))
          .filter($"value" >= 10L)
          .groupBy($"key".as("metric"))
          .agg(count(lit(1)).as("n"), sum($"value").as("total"))
          .orderBy($"metric".asc_nulls_first)
      },
      Some("""
        |SELECT metric, count(*) AS n, CAST(sum(v) AS BIGINT) AS total
        |FROM (
        |  SELECT 'nc' AS metric, n_chars AS v FROM documents
        |  UNION ALL
        |  SELECT 'lt', length(text) % 97 FROM documents)
        |WHERE v >= 10 GROUP BY 1 ORDER BY metric ASC NULLS FIRST
        |""".stripMargin)),

    // MAP explode over the pushed join (r16): per-doc metric maps of an
    // ENRICHED collection — the dynamic-keys corpus shape joined to its
    // dimension. UnwindRelocate transposes explode(driving.metrics)
    // below the join, and the whole `$match`+`$objectToArray`+`$unwind`
    // +`$match(post)`+`$lookup`+`$group` runs as ONE pipeline per split
    // (MapUnwindJoinSpec pins the plan shape and refusal matrix).
    CatalogQuery(
      "q166_server_unwind_map_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", map(
            lit("nc"), $"n_chars",
            lit("lt"), (length($"text") % 97L).cast("long")).as("metrics"))
          .seed("doc_id", ns = "db.mjdocs")
        val c2 = Tables.documents(s, d).select($"lang").distinct()
          .select($"lang".as("_id"), upper($"lang").as("lbl"))
          .seed("_id", ns = "db.mjdim", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, metrics MAP<STRING, LONG>", uniform = true)
        val dm = open(s, c2, "_id STRING, lbl STRING", uniform = true)
        o.join(dm, o("lang") === dm("_id"))
          .select($"lbl", explode($"metrics"))
          .filter($"value" >= 10L)
          .groupBy($"lbl", $"key".as("metric"))
          .agg(count(lit(1)).as("n"), sum($"value").as("total"))
          .orderBy($"lbl".asc_nulls_first, $"metric".asc_nulls_first)
      },
      Some("""
        |SELECT upper(u.lang) AS lbl, metric, count(*) AS n,
        |  CAST(sum(v) AS BIGINT) AS total
        |FROM (
        |  SELECT lang, 'nc' AS metric, n_chars AS v FROM documents
        |  UNION ALL
        |  SELECT lang, 'lt', length(text) % 97 FROM documents) u
        |JOIN (SELECT DISTINCT lang FROM documents) dm ON u.lang = dm.lang
        |WHERE v >= 10 GROUP BY 1, 2
        |ORDER BY lbl ASC NULLS FIRST, metric ASC NULLS FIRST
        |""".stripMargin)),

    // Option-level `$regex` inside the PCRE∩Java common subset (r16):
    // the pattern renders on the wire (RegexDialect adjudicates it
    // portable — both dialects provably agree), so the whole
    // `$match(regex)`+`$group` folds into one pipeline per namespace;
    // out-of-subset patterns refuse loudly or ride the regex_dialect
    // opt-ins (DialectSpec pins all three modes on both transports).
    CatalogQuery(
      "q167_server_regex_wire",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d).select($"doc_id", $"source")
          .seed("doc_id", ns = "db.redocs")
        open(s, c, "_id LONG, source STRING",
          opts = Map("query" -> """{"source": {"$regex": "^src1[0-9]$"}}"""))
          .groupBy($"source").agg(count(lit(1)).as("n"))
          .orderBy($"source".asc_nulls_first)
      },
      Some("""
        |SELECT source, count(*) AS n FROM documents
        |WHERE regexp_matches(source, '^src1[0-9]$')
        |GROUP BY 1 ORDER BY source ASC NULLS FIRST
        |""".stripMargin)),

    // TopN over exploded MAP entries (r16): the unwound ROW pipeline's
    // `$objectToArray`+`$unwind`+`$sort`+`$limit` tail counts kv ENTRY
    // rows — "top metric entries across the corpus" as one pipeline per
    // namespace. Values are parity-disjoint per key so the (v, _id)
    // order is total (string kv keys cannot join a pushed sort — the
    // bracket gate).
    CatalogQuery(
      "q168_server_unwind_map_topn",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", map(
            lit("nc"), ($"n_chars" * 2L).cast("long"),
            lit("lt"), (length($"text") % 97L * 2L + 1L).cast("long")).as("metrics"))
          .seed("doc_id", ns = "db.tkmap")
        open(s, c, "_id LONG, metrics MAP<STRING, LONG>", uniform = true)
          .select($"_id", $"metrics")
          .select($"_id", explode($"metrics"))
          .select($"_id", $"key".as("metric"), $"value".as("v"))
          .orderBy($"v".desc, $"_id".asc)
          .limit(15)
      },
      Some("""
        |SELECT doc_id AS _id, metric, v FROM (
        |  SELECT doc_id, 'nc' AS metric, CAST(n_chars * 2 AS BIGINT) AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, 'lt', CAST(length(text) % 97 * 2 + 1 AS BIGINT)
        |  FROM documents)
        |ORDER BY v DESC, _id ASC LIMIT 15
        |""".stripMargin)),

    // regex_dialect=java end-to-end (r16): an out-of-subset pattern
    // (\d is a UCP/class-shorthand corner) evaluates with documented
    // java.util.regex semantics as a client-side residual — on a
    // pattern whose Java and RE2 (DuckDB) readings agree, the oracle
    // pins the row set. The default mode REFUSES this query; the
    // option is the loud opt-in.
    CatalogQuery(
      "q169_regex_java_dialect",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d).select($"doc_id", $"source")
          .seed("doc_id")
        open(s, c, "_id LONG, source STRING",
          opts = Map("query" -> """{"source": {"$regex": "\\d\\d"}}""", "regex_dialect" -> "java"))
          .groupBy($"source").agg(count(lit(1)).as("n"))
          .orderBy($"source".asc_nulls_first)
      },
      Some("""
        |SELECT source, count(*) AS n FROM documents
        |WHERE regexp_matches(source, '\d\d')
        |GROUP BY 1 ORDER BY source ASC NULLS FIRST
        |""".stripMargin)),

    // Inequality/range join pushdown (r17): the binned INTERVAL join —
    // equi-key on the partition key, range conjuncts in the `$lookup`
    // pipeline's `$expr` (never all-pairs). Overlapping per-lang
    // brackets [k*120, k*120+180) admit a doc into up to two dims, and
    // docs above the last bracket match none — the whole
    // `$match`+`$project`+`$lookup($expr eq+ranges)`+`$group` runs as
    // ONE pipeline per split (RangeJoinPushdownSpec pins plan shape,
    // null semantics, the mirrored form, and the refusal matrix).
    CatalogQuery(
      "q170_server_interval_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars")
          .seed("doc_id", ns = "db.ivdocs")
        // dim `_id` must be COLLISION-FREE (a truncated hash could
        // collide across langs — duplicate `_id` on insert, ADVICE r17):
        // dense_rank over distinct langs is dense and deterministic
        val c2 = Tables.documents(s, d).select($"lang").distinct()
          .withColumn("li", dense_rank().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"lang".asc_nulls_first)).cast("long"))
          .crossJoin(s.range(0, 4).select($"id".as("k")))
          .select(
            ($"li" * 10L + $"k").as("_id"),
            $"lang", ($"k" * 120L).as("lo"), ($"k" * 120L + 180L).as("hi"))
          .seed("_id", ns = "db.ivdim", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, n_chars LONG", uniform = true)
        val dm = open(s, c2, "_id LONG, lang STRING, lo LONG, hi LONG", uniform = true)
        o.join(dm, o("lang") === dm("lang") &&
            o("n_chars") >= dm("lo") && o("n_chars") < dm("hi"))
          .groupBy(o("lang").as("lang"), dm("lo").as("lo"))
          .agg(count(lit(1)).as("n"), sum(o("n_chars")).as("total"))
          .orderBy($"lang".asc_nulls_first, $"lo".asc)
      },
      Some("""
        |SELECT d.lang, b.lo, count(*) AS n,
        |  CAST(sum(d.n_chars) AS BIGINT) AS total
        |FROM documents d
        |JOIN (SELECT lang, k * 120 AS lo, k * 120 + 180 AS hi
        |      FROM (SELECT DISTINCT lang FROM documents)
        |      CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)) b
        |  ON d.lang = b.lang AND d.n_chars >= b.lo AND d.n_chars < b.hi
        |GROUP BY 1, 2 ORDER BY d.lang ASC NULLS FIRST, b.lo ASC
        |""".stripMargin)),

    // AS-OF join via the pushed range pipeline (r17): per-lang
    // checkpoint dims at ts ∈ {0, 150, 300, 450}; each doc's as-of
    // checkpoint is the LATEST ts at-or-below its n_chars — the range
    // `$lookup` admits all prior checkpoints and the pushed `$group`'s
    // max() folds the argmax server-side, so one pipeline returns one
    // doc-level row without the checkpoint fan-out ever crossing the
    // wire. The count() alongside pins the admitted-row population.
    CatalogQuery(
      "q171_server_asof_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars")
          .seed("doc_id", ns = "db.aodocs")
        // collision-free dim `_id` (dense_rank, not a truncated hash —
        // ADVICE r17; see q170)
        val c2 = Tables.documents(s, d).select($"lang").distinct()
          .withColumn("li", dense_rank().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"lang".asc_nulls_first)).cast("long"))
          .crossJoin(s.range(0, 4).select($"id".as("k")))
          .select(
            ($"li" * 10L + $"k").as("_id"),
            $"lang", ($"k" * 150L).as("ts"))
          .seed("_id", ns = "db.aockpt", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, n_chars LONG", uniform = true)
        val c = open(s, c2, "_id LONG, lang STRING, ts LONG", uniform = true)
        o.join(c, o("lang") === c("lang") && c("ts") <= o("n_chars"))
          .groupBy(o("_id").as("doc"))
          .agg(max(c("ts")).as("asof_ts"), count(lit(1)).as("n"))
          .orderBy($"doc".asc)
          .limit(200)
      },
      Some("""
        |SELECT d.doc_id AS doc, CAST(max(c.ts) AS BIGINT) AS asof_ts,
        |  count(*) AS n
        |FROM documents d
        |JOIN (SELECT lang, k * 150 AS ts
        |      FROM (SELECT DISTINCT lang FROM documents)
        |      CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)) c
        |  ON d.lang = c.lang AND c.ts <= d.n_chars
        |GROUP BY 1 ORDER BY doc ASC LIMIT 200
        |""".stripMargin)),

    // Row tails THROUGH the pushed map-join (r17): TopN over
    // `explode(driving.map)` + `$lookup` — the `$sort`+`$limit` tail
    // counts final kv-expanded JOINED rows after the pipeline's last
    // `$unwind` (the q144 analog for maps; MapUnwindJoinSpec pins the
    // LIMIT/OFFSET arms and the string-key refusal). Values are
    // parity-disjoint per metric so the (v, _id) order is total.
    CatalogQuery(
      "q172_server_map_join_topn",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", map(
            lit("nc"), ($"n_chars" * 2L).cast("long"),
            lit("lt"), (length($"text") % 97L * 2L + 1L).cast("long")).as("metrics"))
          .seed("doc_id", ns = "db.tkmjo")
        val c2 = Tables.documents(s, d).select($"lang").distinct()
          .select($"lang".as("_id"), upper($"lang").as("lbl"))
          .seed("_id", ns = "db.tkmjd", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, metrics MAP<STRING, LONG>", uniform = true)
        val dm = open(s, c2, "_id STRING, lbl STRING", uniform = true)
        o.join(dm, o("lang") === dm("_id"))
          .select(o("_id").as("doc"), $"lbl", explode($"metrics"))
          .select($"doc", $"lbl", $"key".as("metric"), $"value".as("v"))
          .orderBy($"v".desc, $"doc".asc)
          .limit(12)
      },
      Some("""
        |SELECT u.doc_id AS doc, upper(u.lang) AS lbl, metric, v FROM (
        |  SELECT doc_id, lang, 'nc' AS metric,
        |    CAST(n_chars * 2 AS BIGINT) AS v FROM documents
        |  UNION ALL
        |  SELECT doc_id, lang, 'lt', CAST(length(text) % 97 * 2 + 1 AS BIGINT)
        |  FROM documents) u
        |JOIN (SELECT DISTINCT lang FROM documents) dm ON u.lang = dm.lang
        |ORDER BY v DESC, doc ASC LIMIT 12
        |""".stripMargin)),

    // Derived (computed) bin keys (r17): `pmod(col, n)` absorbs into the
    // relation as a `$set` column (ComputedKeyRelocate), so the derived
    // bin GROUPs fold server-side AND the derived-bin JOIN keeps the
    // pushed `$lookup` — the q63/q38 bin discipline over served
    // collections without materializing the bin. One
    // `$match`+`$set`+`$lookup`+`$group` pipeline per split
    // (ComputedKeySpec pins plan shapes and the refusal matrix).
    CatalogQuery(
      "q173_server_computed_bin_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"n_chars",
            (length($"text") % 31L).cast("long").as("lt"))
          .seed("doc_id", ns = "db.cbdocs")
        val c2 = s.range(0, 7).select($"id".as("_id"),
            concat(lit("bin"), $"id").as("lbl"))
          .seed("_id", ns = "db.cbdim", dir = c1.dir)
        val o = open(s, c1, "_id LONG, n_chars LONG, lt LONG", uniform = true)
        val dm = open(s, c2, "_id LONG, lbl STRING", uniform = true)
        o.withColumn("bkt", pmod($"n_chars", lit(7L)))
          .join(dm, $"bkt" === dm("_id"))
          .groupBy($"lbl")
          .agg(count(lit(1)).as("n"), sum($"lt").as("total"))
          .orderBy($"lbl".asc_nulls_first)
      },
      Some("""
        |-- NULL n_chars: a null bin joins nothing under INNER (Spark's
        |-- null equi-key), so the reconstruction must drop those rows —
        |-- DuckDB's concat would otherwise fold NULL into a 'bin' group
        |SELECT concat('bin', CAST(n_chars % 7 AS BIGINT)) AS lbl,
        |  count(*) AS n, CAST(sum(length(text) % 31) AS BIGINT) AS total
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY lbl ASC NULLS FIRST
        |""".stripMargin)),

    // The FILE-transport arm of the derived-bin surface (r17): the same
    // pmod bin over a BSON dump — the q63-style bin discipline over the
    // reference's native dump files. With no `$group` to push to, the
    // bin stays a Spark expression and Spark folds it.
    CatalogQuery(
      "q174_file_computed_bin",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"n_chars", $"lang")
          .seed("doc_id")
        open(s, c, "_id LONG, n_chars LONG, lang STRING", uniform = true)
          .withColumn("bkt", pmod($"n_chars", lit(5L)))
          .groupBy($"lang", $"bkt")
          .agg(count(lit(1)).as("n"), sum($"n_chars").as("total"))
          .orderBy($"lang".asc_nulls_first, $"bkt".asc_nulls_first)
      },
      Some("""
        |SELECT lang, CAST(n_chars % 5 AS BIGINT) AS bkt, count(*) AS n,
        |  CAST(sum(n_chars) AS BIGINT) AS total
        |FROM documents
        |GROUP BY 1, 2
        |ORDER BY lang ASC NULLS FIRST, bkt ASC NULLS FIRST
        |""".stripMargin)),

    // Server-side DATE-function bins (r18): the treasury-canonical
    // `groupBy(year(date))` (TreasuryYieldMapper.java:47-53 pulls the
    // year; TreasuryYieldReducer.java:48-71 folds per-year aggregates)
    // over a SERVED collection — ComputedKeyRelocate absorbs
    // `year(o_orderdate)`/`month(o_orderdate)` as `$set: {$year/$month
    // {date, timezone: "UTC"}}` columns, so the whole shape folds as ONE
    // `$match`+`$set`+`$group` pipeline per split instead of shipping
    // every row (the last reference-canonical shape that used to).
    // UTC-pinned proleptic-Gregorian calendar on both sides
    // (ComputedColSpec pins the edges; live shape #40 the wire form).
    CatalogQuery(
      "q175_server_year_bin_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_orderdate")
          .seed("o_orderkey", ns = "db.ybo")
        open(s, c, "_id LONG, o_custkey LONG, o_orderdate TIMESTAMP", uniform = true)
          .groupBy(year($"o_orderdate").as("o_year"),
            month($"o_orderdate").as("o_month"))
          .agg(count(lit(1)).as("n_orders"),
            sum($"o_custkey").as("cust_total"),
            max($"_id").as("hi_key"))
          .orderBy($"o_year".asc_nulls_first, $"o_month".asc_nulls_first)
      },
      Some("""
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(month(o_orderdate) AS INT) AS o_month,
        |  count(*) AS n_orders,
        |  CAST(sum(o_custkey) AS BIGINT) AS cust_total,
        |  max(o_orderkey) AS hi_key
        |FROM orders GROUP BY 1, 2
        |ORDER BY o_year ASC NULLS FIRST, o_month ASC NULLS FIRST
        |""".stripMargin)),

    // The FILE-transport arm of the date bins (r18): `date_trunc(hour)`
    // over a BSON dump of events, computed and folded by Spark. Hour
    // truncation is immune to BSON's millisecond floor (a micros value
    // never crosses an hour boundary when ms-floored), so the dump read
    // matches the parquet oracle exactly.
    CatalogQuery(
      "q176_file_date_trunc_bin",
      (s, d) => {
        import s.implicits._
        val c = Tables.events(s, d)
          .select($"event_id", $"ts", $"user_id")
          .seed("event_id")
        open(s, c, "_id LONG, ts TIMESTAMP, user_id LONG", uniform = true)
          .groupBy(date_trunc("hour", $"ts").as("h"))
          .agg(count(lit(1)).as("n"), sum($"user_id").as("users"))
          .orderBy($"h".asc_nulls_first)
      },
      Some("""
        |SELECT date_trunc('hour', ts) AS h, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1 ORDER BY h ASC NULLS FIRST
        |""".stripMargin)),

    // Range conjuncts through CHAINED $lookup stages (r18): a 3-way
    // star whose SECOND join edge carries the interval — equi on lang,
    // then equi(lang) + [lo, hi) bracket on n_chars in the chained
    // stage's $expr — runs as ONE pipeline per split, zero Spark joins
    // (r17 refused the stage and joined the chained collection
    // Spark-side; RangeJoinPushdownSpec pins plan/outer/string corners).
    CatalogQuery(
      "q177_server_chained_range_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"n_chars")
          .seed("doc_id", ns = "db.crdocs")
        val langs = Tables.documents(s, d).select($"lang").distinct()
          .withColumn("li", dense_rank().over(
            org.apache.spark.sql.expressions.Window
              .orderBy($"lang".asc_nulls_first)).cast("long"))
        val c2 = langs.select($"li".as("_id"), $"lang", upper($"lang").as("lbl"))
          .seed("_id", ns = "db.crlang", dir = c1.dir)
        val c3 = langs.crossJoin(s.range(0, 4).select($"id".as("k")))
          .select(($"li" * 10L + $"k").as("_id"), $"lang",
            ($"k" * 120L).as("lo"), ($"k" * 120L + 180L).as("hi"))
          .seed("_id", ns = "db.crbr", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, n_chars LONG", uniform = true)
        val dl = open(s, c2, "_id LONG, lang STRING, lbl STRING", uniform = true)
        val db = open(s, c3, "_id LONG, lang STRING, lo LONG, hi LONG", uniform = true)
        o.join(dl, o("lang") === dl("lang"))
          .join(db, o("lang") === db("lang") &&
            o("n_chars") >= db("lo") && o("n_chars") < db("hi"))
          .groupBy($"lbl", db("lo").as("lo"))
          .agg(count(lit(1)).as("n"), sum(o("n_chars")).as("total"))
          .orderBy($"lbl".asc_nulls_first, $"lo".asc)
      },
      Some("""
        |SELECT upper(d.lang) AS lbl, b.lo, count(*) AS n,
        |  CAST(sum(d.n_chars) AS BIGINT) AS total
        |FROM documents d
        |JOIN (SELECT DISTINCT lang FROM documents) l ON d.lang = l.lang
        |JOIN (SELECT lang, k * 120 AS lo, k * 120 + 180 AS hi
        |      FROM (SELECT DISTINCT lang FROM documents)
        |      CROSS JOIN (VALUES (0), (1), (2), (3)) t(k)) b
        |  ON d.lang = b.lang AND d.n_chars >= b.lo AND d.n_chars < b.hi
        |GROUP BY 1, 2 ORDER BY lbl ASC NULLS FIRST, b.lo ASC
        |""".stripMargin)),

    // ASCII-bounded STRING range-join keys (r18): under the
    // `ascii_columns` declaration (stored strings provably ASCII — here
    // ISO language codes), string inequalities render into the pushed
    // `$lookup` `$expr` like numeric ranges: over ASCII, Spark's
    // UTF-8-byte order, the engine matcher's UTF-16 order, and a real
    // server's binary collation coincide (the r14 filter classifier's
    // argument, column-vs-column); the sandbox evaluator fails loud on
    // a violating non-ASCII value (RangeJoinPushdownSpec pins all
    // corners). The dim brackets [s_lo, s_hi) partition the lang space
    // per bucket.
    CatalogQuery(
      "q178_server_string_range_join",
      (s, d) => {
        import s.implicits._
        val c1 = Tables.documents(s, d)
          .select($"doc_id", $"lang", (pmod($"n_chars", lit(3L))).as("bkt"))
          .seed("doc_id", ns = "db.srdocs")
        val c2 = s.range(0, 6).select($"id".as("_id"), ($"id" % 3L).as("bkt"),
            when($"id" < 3L, lit("a")).otherwise(lit("f")).as("s_lo"),
            when($"id" < 3L, lit("f")).otherwise(lit("zz")).as("s_hi"))
          .seed("_id", ns = "db.srdim", dir = c1.dir)
        val o = open(s, c1, "_id LONG, lang STRING, bkt LONG", uniform = true,
          opts = Map("ascii_columns" -> "lang"))
        val dm = open(s, c2, "_id LONG, bkt LONG, s_lo STRING, s_hi STRING", uniform = true,
          opts = Map("ascii_columns" -> "s_lo,s_hi"))
        o.join(dm, o("bkt") === dm("bkt") &&
            o("lang") >= dm("s_lo") && o("lang") < dm("s_hi"))
          .groupBy(dm("s_lo").as("s_lo"))
          .agg(count(lit(1)).as("n"),
            min(o("lang")).as("lo_lang"), max(o("lang")).as("hi_lang"))
          .orderBy($"s_lo".asc_nulls_first)
      },
      Some("""
        |SELECT b.s_lo, count(*) AS n,
        |  min(d.lang) AS lo_lang, max(d.lang) AS hi_lang
        |FROM (SELECT doc_id, lang, n_chars % 3 AS bkt FROM documents) d
        |JOIN (SELECT k % 3 AS bkt,
        |        CASE WHEN k < 3 THEN 'a' ELSE 'f' END AS s_lo,
        |        CASE WHEN k < 3 THEN 'f' ELSE 'zz' END AS s_hi
        |      FROM (VALUES (0), (1), (2), (3), (4), (5)) t(k)) b
        |  ON d.bkt = b.bkt AND d.lang >= b.s_lo AND d.lang < b.s_hi
        |GROUP BY 1 ORDER BY b.s_lo ASC NULLS FIRST
        |""".stripMargin)),

    // ASCII-declared STRING order keys (r18): `ORDER BY lang LIMIT n`
    // over a served collection runs as a per-split CURSOR SORT + LIMIT
    // (PushedTopN) instead of shipping every row into a Spark sort —
    // admitted by the same ascii_columns declaration as the range keys,
    // with the returned key values VERIFIED against the contract
    // (AsciiOrderSpec pins the soundness argument and the fail-loud arm).
    CatalogQuery(
      "q179_server_string_topn",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .seed("doc_id", ns = "db.sto")
        open(s, c, "_id LONG, lang STRING, source STRING, n_chars LONG", uniform = true,
          opts = Map("ascii_columns" -> "lang,source"))
          .orderBy($"lang".asc_nulls_first, $"source".asc_nulls_first,
            $"_id".asc)
          .limit(15)
          .select($"_id", $"lang", $"source", $"n_chars")
      },
      Some("""
        |SELECT doc_id AS _id, lang, source, n_chars FROM documents
        |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST, doc_id ASC
        |LIMIT 15
        |""".stripMargin)),

    // FILE-transport string TopN (r18): the bounded heap's CODE-POINT
    // comparator is exactly Spark's UTF-8-byte order, so `ORDER BY text`
    // pushes for ARBITRARY strings under uniform storage — no ascii
    // declaration; the unicode twin (multibyte text) exercises the
    // comparator against DuckDB's binary collation directly.
    CatalogQuery(
      "q180_file_string_topn",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"text", $"n_chars")
          .seed("doc_id")
        open(s, c, "_id LONG, text STRING, n_chars LONG", uniform = true)
          .orderBy($"text".desc_nulls_last, $"_id".desc)
          .limit(10)
          .select($"_id", $"n_chars")
      },
      Some("""
        |SELECT doc_id AS _id, n_chars FROM documents
        |ORDER BY text DESC NULLS LAST, doc_id DESC LIMIT 10
        |""".stripMargin)),

    // Grouped string MIN/MAX through the $group pipeline (r18),
    // COMPOSED with a derived bin key: `$match`+`$set{pmod}`+
    // `$group{$min,$max}` — one pipeline per split, extrema verified
    // ASCII at the reader.
    CatalogQuery(
      "q181_server_string_minmax_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.documents(s, d)
          .select($"doc_id", $"lang", $"source", $"n_chars")
          .seed("doc_id", ns = "db.smm")
        open(s, c, "_id LONG, lang STRING, source STRING, n_chars LONG", uniform = true,
          opts = Map("ascii_columns" -> "lang,source"))
          .withColumn("bkt", pmod($"n_chars", lit(5L)))
          .groupBy($"bkt")
          .agg(min($"lang").as("lo_lang"), max($"lang").as("hi_lang"),
            max($"source").as("hi_src"), count(lit(1)).as("n"))
          .orderBy($"bkt".asc_nulls_first)
      },
      Some("""
        |SELECT CAST(n_chars % 5 AS BIGINT) AS bkt,
        |  min(lang) AS lo_lang, max(lang) AS hi_lang,
        |  max(source) AS hi_src, count(*) AS n
        |FROM documents GROUP BY 1 ORDER BY bkt ASC NULLS FIRST
        |""".stripMargin)),

    // The telemetry-canonical TIME-OF-DAY bin (r18 second wave):
    // `groupBy(hour(ts), dayofweek(ts))` over a SERVED events stream
    // folds as `$match`+`$set{$hour,$dayOfWeek}`+`$group` per split —
    // `$dayOfWeek` numbers Sunday 1..Saturday 7 exactly like Spark's
    // dayofweek (DuckDB's dayofweek is Sunday 0, hence the +1 in the
    // oracle spelling).
    CatalogQuery(
      "q182_server_hour_dow_bin_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.events(s, d)
          .select($"event_id", $"ts", $"user_id")
          .seed("event_id", ns = "db.hdw")
        open(s, c, "_id LONG, ts TIMESTAMP, user_id LONG", uniform = true)
          .groupBy(hour($"ts").as("h"), dayofweek($"ts").as("dw"))
          .agg(count(lit(1)).as("n"), sum($"user_id").as("users"))
          .orderBy($"h".asc_nulls_first, $"dw".asc_nulls_first)
      },
      Some("""
        |SELECT CAST(hour(ts) AS INT) AS h,
        |  CAST(dayofweek(ts) + 1 AS INT) AS dw,
        |  count(*) AS n, CAST(sum(user_id) AS BIGINT) AS users
        |FROM events GROUP BY 1, 2
        |ORDER BY h ASC NULLS FIRST, dw ASC NULLS FIRST
        |""".stripMargin)),

    // DateType-OUT truncation (r18): `trunc(date, 'month')` — the
    // month-cohort key — folds via the same `$dateTrunc` wire form; the
    // truncated midnight decodes as epoch days (DATE on both engines).
    CatalogQuery(
      "q183_server_trunc_month_group",
      (s, d) => {
        import s.implicits._
        val c = Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_orderdate")
          .seed("o_orderkey", ns = "db.trm")
        open(s, c, "_id LONG, o_custkey LONG, o_orderdate TIMESTAMP", uniform = true)
          .groupBy(trunc($"o_orderdate", "month").as("mo"))
          .agg(count(lit(1)).as("n"), max($"o_custkey").as("hi_cust"))
          .orderBy($"mo".asc_nulls_first)
      },
      Some("""
        |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mo,
        |  count(*) AS n, max(o_custkey) AS hi_cust
        |FROM orders GROUP BY 1 ORDER BY mo ASC NULLS FIRST
        |""".stripMargin))
  )
}
