package graft.etl

import graft.{Fns, QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared queries for the reference's ETL semantics (SURVEY.md §2.1) plus
  * the flagship pricing-summary aggregation. Every query reads the fixture
  * parquet under `sfDir` and ends in a total ORDER BY (oracle determinism,
  * FIXTURES.md).
  */
object EtlQueries extends QueryModule {
  import Fns.{dsum, dsumSql}

  // Literal as-of instants — never now() (operations.py:539 quirk, fixed).
  private val T      = "TIMESTAMP '2024-01-20 00:00:00'"
  private val InsT   = "TIMESTAMP '2024-01-25 00:00:00'"

  // the Avro provider class — see [[graft.sources.AvroSource]] for why
  // the shortname "avro" does not resolve in this distribution
  private val AvroSource = graft.sources.AvroSource.Provider

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Flagship: TPC-H-Q1-style pricing summary — scan, filter, projection,
    // hash-agg (partial+final, map-side combine free from Catalyst), sort.
    "q01_pricing_summary" -> { (s, dir) =>
      Tables.t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= expr("TIMESTAMP '2000-09-02 00:00:00'"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          Fns.davg(col("l_quantity")).as("avg_qty"),
          Fns.davg(col("l_extendedprice")).as("avg_price"),
          Fns.davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // W9 seed_table (operations.py:404-474): snapshot copy == normalize +
    // full scan; the chunk loop is partition parallelism.
    "q02_seed_snapshot" -> { (s, dir) =>
      TypeNormalizer.normalize(Tables.t(s, dir, "customer"))
        .orderBy("c_custkey")
    },

    // W1 convert_column_types (operations.py:120-128): "_at"-suffix string
    // columns → timestamp, null on parse failure (errors="coerce").
    "q03_type_normalize" -> { (s, dir) =>
      val raw = Tables.t(s, dir, "events").select(
        col("event_id"),
        when(col("event_id") % 100 === 0, lit("not-a-timestamp"))
          .otherwise(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
          .as("created_at"))
      TypeNormalizer.normalize(raw).orderBy("event_id")
    },

    // W11+W14 incremental upsert (operations.py:515-609): old snapshot =
    // events before T; source lost every event_id%10==0 row (simulated
    // deletions); 48h delta window.
    "q04_upsert_kernel" -> { (s, dir) =>
      val ev  = Tables.t(s, dir, "events")
      val old = ev.filter(col("ts") < expr(T))
      val src = ev.filter(col("event_id") % 10 =!= 0)
      UpsertKernel.upsert(old, src, "event_id", "ts", expr(T), 48)
        .orderBy("event_id")
    },

    // Delete reconciliation alone (operations.py:556-574 intent):
    // dest ids EXCEPT source ids.
    "q05_delete_reconcile" -> { (s, dir) =>
      val ev  = Tables.t(s, dir, "events")
      val src = ev.filter(col("event_id") % 10 =!= 0)
      UpsertKernel.deletedIds(ev, src, "event_id").orderBy("event_id")
    },

    // W15 safe_insert (operations.py:751-791): conflict ≙ semi-join;
    // insertable set ≙ anti-join.
    "q06_safe_insert" -> { (s, dir) =>
      val ev       = Tables.t(s, dir, "events")
      val incoming = ev.filter(col("ts") >= expr(InsT))
      val existing = ev.filter(col("event_id") % 2 === 0)
      SafeInsert.insertable(incoming, existing, "event_id")
        .orderBy("event_id")
    },

    // W10 quarantined dirty-CSV ingest as a declared artifact: a CSV
    // fixture is derived DETERMINISTICALLY from `orders` (rows with
    // o_orderkey % 97 == 0 get an unparseable key field), written
    // headerless, and re-read through the quarantine reader — so the
    // oracle can restate the expected clean/quarantine counts straight
    // from `orders` with the same modulus rule. This puts a CORRECTNESS
    // row behind the dirty-row split that was previously ScalaTest-only.
    "q86_quarantine_ingest" -> { (s, dir) =>
      val fixture =
        "/tmp/graft_qcsv_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      Tables.t(s, dir, "orders").select(
        concat(
          when(col("o_orderkey") % 97 === 0, concat(lit("x"),
              col("o_orderkey").cast("string")))
            .otherwise(col("o_orderkey").cast("string")),
          lit(","), col("o_totalprice").cast("string")).as("value"))
        .write.mode("overwrite").text(fixture)
      val q = CsvIngest.readCsvQuarantined(s,
        "o_orderkey BIGINT, o_totalprice DOUBLE", header = false, fixture)
      q.clean.agg(count(lit(1)).as("n_rows"))
        .select(lit("clean").as("side"), col("n_rows"))
        .unionByName(q.quarantined.agg(count(lit(1)).as("n_rows"))
          .select(lit("quarantined").as("side"), col("n_rows")))
        .orderBy("side")
    },

    // Z-order curve values over (customer, order-day) — the clustering
    // key of [[ZOrder.seedZOrdered]], the lakehouse OPTIMIZE-ZORDER
    // analog among the seed layouts (sorted / bucketed / partitioned /
    // z-ordered). The interleave is pure built-in bit arithmetic, so the
    // oracle restates the identical operator tree and the curve itself is
    // hash-checked; the layout property it buys (per-file 2-D boxes ->
    // min/max pruning on BOTH dimensions, read back through the committed
    // snapshot) is asserted in ZOrderSpec.
    "q94_zorder_curve" -> { (s, dir) =>
      Tables.t(s, dir, "orders").select(
          col("o_orderkey"),
          col("o_custkey").bitwiseAND(lit(65535L)).as("cust16"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01"))
            .cast("long").bitwiseAND(lit(65535L)).as("day16"),
          ZOrder.zValue2(col("o_custkey"),
            datediff(to_date(col("o_orderdate")), lit("1992-01-01")))
            .as("z_value"))
        .orderBy("o_orderkey")
    },

    // The upsert's JSON stats report (operations.py:601-609:
    // rows_added/rows_deleted returned as JSON) on the q04 scenario.
    // No trailing ORDER BY: the crossJoin of two 1-row aggregates yields
    // exactly one row, so the determinism contract is trivially met.
    "q58_upsert_stats" -> { (s, dir) =>
      val ev    = Tables.t(s, dir, "events")
      val old   = ev.filter(col("ts") < expr(T))
      val src   = ev.filter(col("event_id") % 10 =!= 0)
      val delta = src.filter(
        col("ts") >= expr(T) - expr("INTERVAL 48 HOURS"))
      val merged  = UpsertKernel.merge(old, delta, "event_id")
      val deleted = UpsertKernel.deletedIds(merged, src, "event_id")
      val added   = delta.agg(count(lit(1)).as("rows_added"))
      val removed = deleted.agg(count(lit(1)).as("rows_deleted"))
      added.crossJoin(removed)
        .select(col("rows_added"), col("rows_deleted"),
          to_json(struct(col("rows_added"), col("rows_deleted")))
            .as("report"))
    },

    // Snapshot diff audit: the row-level reconciliation report between
    // two table versions — what a data steward reads after every P2
    // refresh (how many rows appeared / vanished / changed, and by how
    // much in total). Versions derive deterministically from orders so
    // the oracle can restate them: "new" deletes every 97th key,
    // reprices every 13th, and appends fresh keys for every 31st. One
    // full-outer pk join classifies each row exactly once; the value
    // drift sums through the exact decimal (a double sum would make the
    // report partitioning-dependent). At 100 TB the join is the
    // unavoidable full-table comparison — pk-partitioned on both sides,
    // no skew (pks are unique), prunable to changed partitions when the
    // lake tracks them.
    "q186_table_diff" -> { (s, dir) =>
      val base = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val old = base
      val neu = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      val j = old.select(col("o_orderkey"), col("o_totalprice").as("v_old"))
        .join(neu.select(col("o_orderkey"), col("o_totalprice").as("v_new")),
          Seq("o_orderkey"), "full_outer")
      j.select(
          when(col("v_old").isNull, lit("added"))
            .when(col("v_new").isNull, lit("removed"))
            .when(col("v_old") =!= col("v_new"), lit("changed"))
            .otherwise(lit("unchanged")).as("change_type"),
          coalesce(col("v_new"), lit(0.0)).as("vn"),
          coalesce(col("v_old"), lit(0.0)).as("vo"))
        .groupBy(col("change_type"))
        .agg(count(lit(1)).as("n"),
          graft.Fns.dsum(col("vn") - col("vo")).as("value_delta"))
        .orderBy("change_type")
    },

    // CDC change feed: q186's version pair emitted as the ROW-LEVEL
    // change stream downstream consumers subscribe to — the
    // `table_changes()` surface of lakehouse change-data-feed, with
    // Delta-CDF op vocabulary (insert / delete / update_preimage /
    // update_postimage, updates as a before+after row pair so a
    // consumer can retract-and-apply). Same single full-outer pk join
    // as the diff; the per-row op rows expand scan-locally from a ≤2
    // element array, unchanged rows never leave the join. At scale this
    // is the materialization a Snapshot delta commit could emit
    // directly — the join is the fallback when only the two versions
    // exist.
    "q216_cdc_feed" -> { (s, dir) =>
      val base = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val neu = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      base.select(col("o_orderkey"), col("o_totalprice").as("v_old"))
        .join(neu.select(col("o_orderkey"),
          col("o_totalprice").as("v_new")), Seq("o_orderkey"), "full_outer")
        .withColumn("ops",
          when(col("v_old").isNull, array(
            struct(lit("insert").as("op"), col("v_new").as("price"))))
          .when(col("v_new").isNull, array(
            struct(lit("delete").as("op"), col("v_old").as("price"))))
          .when(col("v_old") =!= col("v_new"), array(
            struct(lit("update_preimage").as("op"),
              col("v_old").as("price")),
            struct(lit("update_postimage").as("op"),
              col("v_new").as("price")))))
        .filter(col("ops").isNotNull)
        .select(col("o_orderkey"), explode(col("ops")).as("c"))
        .select(col("o_orderkey"), col("c.op").as("op"),
          col("c.price").as("price"))
        .orderBy("o_orderkey", "op")
    },

    // Partition-digest reconciliation — how replicas, backups, and
    // migrated tables are compared at 100 TB WITHOUT a row-level join:
    // each side folds into k=64 order-independent bucket digests
    // (bucket = pk mod 64; digest = exact-decimal sum of a per-row
    // integer fingerprint + row count), then a k-row comparison names
    // the buckets that diverge — q186's row-level diff then runs ONLY
    // inside flagged buckets, not across the whole table. Row movement
    // is 2 full scans collapsing map-side into 64 partials each; the
    // compare moves 128 tiny rows. The fingerprint is a polynomial over
    // the row's fields in exact integer arithmetic (price at cent
    // precision via ROUND — truncation-vs-round cast divergence avoided
    // by rounding in BOTH engines); the sum rides DECIMAL(38,0) so no
    // overflow and no order sensitivity. The modified side reuses
    // q186's drift derivation (drop %97, reprice %13, add %31).
    "q228_partition_digest" -> { (s, dir) =>
      val base = Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
      val neu = base.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 13 === 0, col("o_totalprice") * 1.1)
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        .unionByName(base.filter(col("o_orderkey") % 31 === 0)
          .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
            col("o_totalprice")))
      def digest(df: DataFrame, side: String): DataFrame = df
        .select((col("o_orderkey") % 64).as("bucket"),
          (col("o_orderkey") * 1000003L +
            (round(col("o_totalprice") * 100, 0).cast("long") % 999983L))
            .cast("decimal(38,0)").as("fp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$side"), sum(col("fp")).as(s"d_$side"))
      digest(base, "a").join(digest(neu, "b"), Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          when(col("n_a").isNotNull && col("n_b").isNotNull &&
            col("n_a") === col("n_b") && col("d_a") === col("d_b"), 1)
            .otherwise(0).as("is_match"))
        .orderBy("bucket")
    },

    // Bucketed co-located join — THE 100 TB fact-to-fact join lever: both
    // sides written once CLUSTERED BY the join key into the same bucket
    // count, so every subsequent join between them is exchange-free (each
    // bucket pair joins in place; no corpus-sized shuffle, ever). The
    // layout write is the declared query's first half ([[Seed.seedBucketed]],
    // persisted through the catalog so the reader SEES bucket
    // metadata — a plain parquet read wouldn't); the second half
    // is the revenue-per-priority join the layout pays for. PlanGuardSpec
    // asserts the join subtree has ZERO shuffle exchanges under the join
    // and that both scans report the bucket spec; the oracle checks the
    // ANSWER equals the plain join's (layout must never change results).
    // At 1000 executors: bucket count becomes O(cluster cores), the
    // write is the one-time cost, and every downstream join/groupBy on
    // the key rides the same co-location.
    "q248_bucketed_join" -> { (s, dir) =>
      val wh = "/tmp/graft_bucketed_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      val orders = Seed.seedBucketed(Tables.t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority")),
        "o_orderkey", "graft_b_orders", s"$wh/graft_b_orders")
      val items = Seed.seedBucketed(Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount")),
        "l_orderkey", "graft_b_lineitem", s"$wh/graft_b_lineitem")
      orders.join(items, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderpriority")
    },

    // ORC round-trip — the second columnar format the engine writes and
    // reads (the reference's BaseWriter dispatches over pluggable
    // destination types, operations.py:98-118; ORC is the Spark-native
    // second destination format, zero extra deps). The
    // write is Hive-style PARTITIONED BY the returnflag so the read-back
    // filter prunes whole directories before any IO, and the quantity
    // predicate pushes into the ORC stripe reader (min/max stripe stats
    // — OrcScanSpec pins both in the plan). The answer must be identical
    // to computing over the original parquet — the oracle IS the plain
    // parquet aggregation, so the row proves write→read fidelity
    // (values, types, partition-column round-trip) not just mechanics.
    "q257_orc_roundtrip" -> { (s, dir) =>
      // per-run token in the scratch path — two harness processes over
      // the same fixture dir must not race overwrite-vs-read on /tmp
      val path = "/tmp/graft_orc_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag").orc(path)
      s.read.orc(path)
        .filter(col("l_returnflag") =!= "N")   // partition pruning
        .filter(col("l_quantity") > 10.0)      // ORC predicate pushdown
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    },

    // Avro round-trip — the ROW-major interchange format beside the two
    // columnar ones (parquet native, ORC q257): Spark 4 bundles the
    // avro datasource in spark-sql, so the engine writes and reads it
    // with zero extra deps. Avro is the Kafka/schema-registry wire
    // format — the shape a streaming ingest lands in before compaction
    // to parquet — so the fidelity proof matters even though the format
    // offers no stripe statistics: the write is Hive-partitioned by the
    // returnflag (directory pruning still applies — the PartitionFilters
    // line survives; the quantity predicate correctly does NOT push into
    // a row format and evaluates post-scan). The oracle is the plain
    // PARQUET aggregation, so the row proves values, types, and the
    // partition column survive the Avro encode/decode — the q257
    // argument for the row-major seam.
    "q274_avro_roundtrip" -> { (s, dir) =>
      val path = "/tmp/graft_avro_" + dir.replaceAll("[^A-Za-z0-9]", "_") +
        "_" + s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_returnflag"))
        .write.mode("overwrite").partitionBy("l_returnflag")
        .format(AvroSource).save(path)
      s.read.format(AvroSource).load(path)
        .filter(col("l_returnflag") =!= "N")   // partition pruning
        .filter(col("l_quantity") > 10.0)      // post-scan (row format)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("long")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy("l_returnflag")
    },

    // Format-migration verification — the sign-off step of a 100 TB
    // parquet→ORC migration: prove the copy is row-identical WITHOUT a
    // row-level join, by comparing q228's order-independent bucket
    // digests (exact-integer row fingerprint over every carried column
    // including the timestamp, DECIMAL(38,0) sums + counts, 64 buckets)
    // computed from the source and from the migrated copy read back.
    // Two scans and a 64-row compare, at any table size; a single
    // flipped value, lost row, or type-coerced column lands in exactly
    // one bucket's mismatch. The oracle states the expected report —
    // every bucket matching with the source's counts — so a silent
    // round-trip corruption turns the driver row red.
    "q270_format_migration" -> { (s, dir) =>
      val path = "/tmp/graft_orcmig_" +
        dir.replaceAll("[^A-Za-z0-9]", "_") + "_" +
        s.sparkContext.applicationId.replaceAll("[^A-Za-z0-9]", "_")
      val src = Tables.t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_shipdate"))
      src.write.mode("overwrite").orc(path)
      val back = s.read.orc(path)
      def digest(df: DataFrame, side: String): DataFrame = df
        .select(
          ((col("l_orderkey") * 8 + col("l_linenumber")) % 64).as("bucket"),
          (col("l_orderkey") * lit(1000003L) +
            col("l_linenumber").cast("long") * lit(7919L) +
            (round(col("l_quantity") * 100, 0).cast("long") % 999983L) +
            (round(col("l_extendedprice") * 100, 0).cast("long")
              % 999983L) +
            (unix_micros(col("l_shipdate")) % 999999937L))
            .cast("decimal(38,0)").as("fp"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$side"), sum(col("fp")).as(s"d_$side"))
      digest(src, "parquet")
        .join(digest(back, "orc"), Seq("bucket"), "full_outer")
        .select(col("bucket").cast("long").as("bucket"),
          coalesce(col("n_parquet"), lit(0L)).as("n_parquet"),
          coalesce(col("n_orc"), lit(0L)).as("n_orc"),
          when(col("n_parquet").isNotNull && col("n_orc").isNotNull &&
            col("n_parquet") === col("n_orc") &&
            col("d_parquet") === col("d_orc"), 1).otherwise(0)
            .as("is_match"))
        .orderBy("bucket")
    })

  override def oracles: Map[String, String] = Map(
    // the engine's bit-spread steps unrolled as CTEs — identical integer
    // operator tree, so the z-values hash-match exactly
    "q94_zorder_curve" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    o_custkey & 65535 AS a,
        |    CAST(DATEDIFF('day', DATE '1992-01-01',
        |                  CAST(o_orderdate AS DATE)) AS BIGINT) & 65535 AS b
        |  FROM orders),
        |s1 AS (SELECT o_orderkey, a, b,
        |  (a | (a << 8)) & 16711935 AS sa,
        |  (b | (b << 8)) & 16711935 AS sb FROM base),
        |s2 AS (SELECT o_orderkey, a, b,
        |  (sa | (sa << 4)) & 252645135 AS sa,
        |  (sb | (sb << 4)) & 252645135 AS sb FROM s1),
        |s3 AS (SELECT o_orderkey, a, b,
        |  (sa | (sa << 2)) & 858993459 AS sa,
        |  (sb | (sb << 2)) & 858993459 AS sb FROM s2),
        |s4 AS (SELECT o_orderkey, a, b,
        |  (sa | (sa << 1)) & 1431655765 AS sa,
        |  (sb | (sb << 1)) & 1431655765 AS sb FROM s3)
        |SELECT o_orderkey, a AS cust16, b AS day16,
        |  sa | (sb << 1) AS z_value
        |FROM s4 ORDER BY o_orderkey""".stripMargin,

    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${Fns.davgSql("l_quantity")} AS avg_qty,
         |  ${Fns.davgSql("l_extendedprice")} AS avg_price,
         |  ${Fns.davgSql("l_discount")} AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_seed_snapshot" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    "q03_type_normalize" ->
      """WITH raw AS (
        |  SELECT event_id,
        |         CASE WHEN event_id % 100 = 0 THEN 'not-a-timestamp'
        |              ELSE strftime(ts, '%Y-%m-%d %H:%M:%S') END AS created_at
        |  FROM events)
        |SELECT event_id, TRY_CAST(created_at AS TIMESTAMP) AS created_at
        |FROM raw ORDER BY event_id""".stripMargin,

    "q04_upsert_kernel" ->
      """WITH old AS (
        |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
        |src AS (SELECT * FROM events WHERE event_id % 10 <> 0),
        |delta AS (
        |  SELECT * FROM src
        |  WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 48 HOUR),
        |merged AS (
        |  SELECT * FROM old
        |  WHERE event_id NOT IN (SELECT event_id FROM delta)
        |  UNION ALL SELECT * FROM delta)
        |SELECT m.* FROM merged m
        |WHERE m.event_id IN (SELECT event_id FROM src)
        |ORDER BY m.event_id""".stripMargin,

    "q05_delete_reconcile" ->
      """SELECT event_id FROM events
        |EXCEPT
        |SELECT event_id FROM events WHERE event_id % 10 <> 0
        |ORDER BY event_id""".stripMargin,

    "q06_safe_insert" ->
      """SELECT * FROM events
        |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00'
        |  AND event_id NOT IN (
        |    SELECT event_id FROM events WHERE event_id % 2 = 0)
        |ORDER BY event_id""".stripMargin,

    // the oracle never sees the CSV: the quarantine rule is restated over
    // the source table the fixture derives from
    "q86_quarantine_ingest" ->
      """SELECT 'clean' AS side,
        |  COUNT(*) FILTER (WHERE o_orderkey % 97 <> 0) AS n_rows
        |FROM orders
        |UNION ALL
        |SELECT 'quarantined' AS side,
        |  COUNT(*) FILTER (WHERE o_orderkey % 97 = 0) AS n_rows
        |FROM orders
        |ORDER BY side""".stripMargin,

    "q58_upsert_stats" ->
      """WITH old AS (
        |  SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-20 00:00:00'),
        |src AS (SELECT * FROM events WHERE event_id % 10 <> 0),
        |delta AS (
        |  SELECT * FROM src
        |  WHERE ts >= TIMESTAMP '2024-01-20 00:00:00' - INTERVAL 48 HOUR),
        |merged AS (
        |  SELECT event_id FROM old
        |  WHERE event_id NOT IN (SELECT event_id FROM delta)
        |  UNION ALL SELECT event_id FROM delta),
        |deleted AS (
        |  SELECT event_id FROM merged
        |  EXCEPT SELECT event_id FROM src)
        |SELECT
        |  (SELECT COUNT(*) FROM delta) AS rows_added,
        |  (SELECT COUNT(*) FROM deleted) AS rows_deleted,
        |  CAST(TO_JSON(STRUCT_PACK(
        |    rows_added := (SELECT COUNT(*) FROM delta),
        |    rows_deleted := (SELECT COUNT(*) FROM deleted))) AS VARCHAR)
        |    AS report""".stripMargin,

    "q186_table_diff" ->
      s"""WITH old AS (
         |  SELECT o_orderkey, o_totalprice FROM orders),
         |neu AS (
         |  SELECT o_orderkey,
         |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
         |         ELSE o_totalprice END AS o_totalprice
         |  FROM orders WHERE o_orderkey % 97 <> 0
         |  UNION ALL
         |  SELECT o_orderkey + 10000000, o_totalprice
         |  FROM orders WHERE o_orderkey % 31 = 0),
         |j AS (
         |  SELECT
         |    CASE WHEN o.o_orderkey IS NULL THEN 'added'
         |         WHEN n.o_orderkey IS NULL THEN 'removed'
         |         WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
         |         ELSE 'unchanged' END AS change_type,
         |    COALESCE(n.o_totalprice, 0.0) - COALESCE(o.o_totalprice, 0.0)
         |      AS delta
         |  FROM old o FULL OUTER JOIN neu n
         |    ON o.o_orderkey = n.o_orderkey)
         |SELECT change_type, COUNT(*) AS n,
         |  ${graft.Fns.dsumSql("delta")} AS value_delta
         |FROM j GROUP BY 1 ORDER BY change_type""".stripMargin,

    "q216_cdc_feed" ->
      """WITH old AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |neu AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 31 = 0),
        |j AS (
        |  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    o.o_totalprice AS v_old, n.o_totalprice AS v_new,
        |    CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END AS ins,
        |    CASE WHEN n.o_orderkey IS NULL THEN 1 ELSE 0 END AS del
        |  FROM old o FULL OUTER JOIN neu n
        |    ON o.o_orderkey = n.o_orderkey)
        |SELECT o_orderkey, 'insert' AS op, v_new AS price
        |FROM j WHERE ins = 1
        |UNION ALL
        |SELECT o_orderkey, 'delete', v_old FROM j WHERE del = 1
        |UNION ALL
        |SELECT o_orderkey, 'update_preimage', v_old
        |FROM j WHERE ins = 0 AND del = 0 AND v_old <> v_new
        |UNION ALL
        |SELECT o_orderkey, 'update_postimage', v_new
        |FROM j WHERE ins = 0 AND del = 0 AND v_old <> v_new
        |ORDER BY o_orderkey, op""".stripMargin,

    // identical fingerprint polynomial; DECIMAL(38,0) sums exact +
    // order-independent on both sides
    "q228_partition_digest" ->
      """WITH a AS (
        |  SELECT o_orderkey, o_totalprice FROM orders),
        |b AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice * 1.1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_totalprice
        |  FROM orders WHERE o_orderkey % 31 = 0),
        |da AS (
        |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_a,
        |    SUM(CAST(o_orderkey * 1000003 +
        |      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 999983
        |      AS DECIMAL(38,0))) AS d_a
        |  FROM a GROUP BY 1),
        |db AS (
        |  SELECT o_orderkey % 64 AS bucket, COUNT(*) AS n_b,
        |    SUM(CAST(o_orderkey * 1000003 +
        |      CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) % 999983
        |      AS DECIMAL(38,0))) AS d_b
        |  FROM b GROUP BY 1)
        |SELECT COALESCE(da.bucket, db.bucket) AS bucket,
        |  COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
        |  CASE WHEN n_a IS NOT NULL AND n_b IS NOT NULL
        |        AND n_a = n_b AND d_a = d_b THEN 1 ELSE 0 END AS is_match
        |FROM da FULL OUTER JOIN db ON da.bucket = db.bucket
        |ORDER BY bucket""".stripMargin,

    // the oracle is the PLAIN join — physical layout must be invisible
    // in the answer
    "q248_bucketed_join" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // the oracle is the plain PARQUET aggregation — the ORC write/read
    // must be value-invisible
    "q257_orc_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |WHERE l_returnflag <> 'N' AND l_quantity > 10.0
         |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // the oracle is the plain PARQUET aggregation — the Avro write/read
    // must be value-invisible (the q257 argument, row-major seam)
    "q274_avro_roundtrip" ->
      s"""SELECT l_returnflag, COUNT(*) AS n_items,
         |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |WHERE l_returnflag <> 'N' AND l_quantity > 10.0
         |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    // the expected migration report: every bucket present, counts from
    // the source, all matching — the digest equality itself is the
    // Spark-side check the verdict column carries
    "q270_format_migration" ->
      """SELECT (l_orderkey * 8 + CAST(l_linenumber AS BIGINT)) % 64
        |    AS bucket,
        |  COUNT(*) AS n_parquet, COUNT(*) AS n_orc,
        |  CAST(1 AS INTEGER) AS is_match
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin)
}
