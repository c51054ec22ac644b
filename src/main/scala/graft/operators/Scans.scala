package graft.operators

import graft.{OSQL, U}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 — scans, sources, sinks.
  *
  * The fixtures are parquet-only, so the CSV/JSON scan operators first
  * round-trip a small dim table through the format under test (written to a
  * deterministic scratch dir), then read it back with an explicit schema —
  * exercising the real reader code path while staying oracle-comparable
  * against the original table. At 100 TB the same readers apply unchanged;
  * schemas stay explicit (never inferSchema — a full extra pass at scale).
  */
object Scans {

  private def scanParquet(s: SparkSession, d: String): DataFrame =
    U.tbl(s, d, "part").orderBy("p_partkey")

  /** Reads the `events` table — exercises parquet TIMESTAMP(NANOS) handling. */
  private def scanEvents(s: SparkSession, d: String): DataFrame =
    U.events(s, d).orderBy("event_id")

  private val nationSchema = StructType(Seq(
    StructField("n_nationkey", IntegerType),
    StructField("n_name", StringType),
    StructField("n_regionkey", IntegerType)))

  private def scanCsv(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "csv_nation")
    U.tbl(s, d, "nation").coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)
    s.read.schema(nationSchema).option("header", "true").csv(path)
      .orderBy("n_nationkey")
  }

  /** Gzip-compressed CSV round-trip — the compressed-text-ingest rung
    * beside [[scanCsv]]: the landing format half the world's exports
    * actually arrive in. gzip is NOT splittable (one file = one task on
    * read, unlike the parquet/zstd-frame paths), so a 100 TB ingest
    * keeps individual .csv.gz files small and parallelizes ACROSS files
    * — the codec choice is a partitioning decision, which is why it is
    * an operator here and not an ops footnote. */
  private def scanCsvGzip(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "csv_gz_nation")
    U.tbl(s, d, "nation").coalesce(1)
      .write.mode("overwrite").option("header", "true")
      .option("compression", "gzip").csv(path)
    s.read.schema(nationSchema).option("header", "true").csv(path)
      .orderBy("n_nationkey")
  }

  private val regionSchema = StructType(Seq(
    StructField("r_regionkey", IntegerType),
    StructField("r_name", StringType)))

  private def scanJson(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "json_region")
    U.tbl(s, d, "region").coalesce(1).write.mode("overwrite").json(path)
    s.read.schema(regionSchema).json(path).orderBy("r_regionkey")
  }

  /** ORC round-trip (DuckDB can't read ORC, so the oracle compares against
    * the original table — same pattern as the CSV/JSON scans). */
  private def scanOrc(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "orc_supplier")
    U.tbl(s, d, "supplier").coalesce(1).write.mode("overwrite").orc(path)
    s.read.orc(path).orderBy("s_suppkey")
  }

  /** Line-oriented text source: one document text per line. A document
    * containing a newline would silently split into multiple rows, so the
    * write FAILS (distributed raise_error, no extra action) on any text
    * violating the one-row-per-line invariant instead of diverging. */
  private def scanText(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "text_docs")
    U.tbl(s, d, "documents")
      .select(when(col("text").contains("\n") || col("text").contains("\r"),
        raise_error(concat(lit("scan_text: newline in document text"))))
        .otherwise(col("text")).as("text"))
      .coalesce(1)
      .write.mode("overwrite").text(path)
    s.read.text(path).select(col("value").as("text")).orderBy("text")
  }

  /** XML round-trip (native XML datasource, new in Spark 4). */
  private def scanXml(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "xml_region")
    U.tbl(s, d, "region").coalesce(1).write.mode("overwrite")
      .option("rootTag", "regions").option("rowTag", "region")
      .format("xml").save(path)
    s.read.schema(regionSchema).option("rowTag", "region").format("xml").load(path)
      .orderBy("r_regionkey")
  }

  /** Custom DataSource V2 connector (graft.sources.DeterministicSource):
    * partitioned parallel reads + column pruning through the real connector
    * API; the generator arithmetic is mirrored in the DuckDB oracle. */
  private def scanCustomSource(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.DeterministicSource")
      .option("rows", "20000").option("slices", "8").load()
      .filter(col("bucket") < 8)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(col("value_cents")).as("sum_cents"),
        (sum(col("value_cents")).cast(DoubleType) / (lit(100.0) * count(lit(1))))
          .as("avg_value"))
      .orderBy("bucket")

  /** Filter pushdown INTO the custom DSv2 source: the id range predicate
    * reaches the generator's ScanBuilder and narrows [lo, hi) before any
    * row is produced (PlanSpec asserts the pushedRange in the BatchScan
    * description) — the connector analogue of row-group skipping. */
  private def scanCustomPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.DeterministicSource")
      .option("rows", "20000").option("slices", "8").load()
      .filter(col("id") >= 5000 && col("id") < 15000)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("sum_cents"))
      .orderBy("bucket")

  /** Runtime (DPP-style) filtering INTO the custom DSv2 source: joining the
    * generator with a filtered broadcast dim on `id` makes Spark evaluate
    * the dim first and hand the 5 surviving keys to the scan as a runtime
    * IN predicate ([[graft.sources.DeterministicSource]] implements
    * SupportsRuntimeV2Filtering) — the scan then plans one [v,v+1) slice
    * per key instead of 100k rows. The v2 counterpart of join_dpp: at
    * 100 TB, scan work tracks the matched keys, not the table size.
    * PlanSpec asserts both the RuntimeFilters on the BatchScan and the
    * recorded key-count. */
  private def scanCustomRuntimeFilter(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.format("graft.sources.DeterministicSource")
      .option("rows", "100000").option("slices", "8").load()
    val dim = U.tbl(s, d, "nation")
      .filter(col("n_regionkey") === 2)
      .select(col("n_name"),
        (col("n_nationkey") * 4000 + 123).cast(LongType).as("fid"))
    fact.join(broadcast(dim), col("id") === col("fid"))
      .select(col("n_name"), col("id"), col("bucket"), col("value_cents"))
      .orderBy("id")
  }

  /** Aggregate pushdown INTO the custom DSv2 source: the whole
    * COUNT(*)/SUM GROUP BY bucket folds into the generator, whose slices
    * emit 32 partial rows each — the exchange carries |slices|·32 rows no
    * matter how many ids were scanned. Spark merges the partials
    * (supportCompletePushDown=false keeps multi-slice parallelism exact). */
  private def scanCustomAggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.DeterministicSource")
      .option("rows", "20000").option("slices", "8").load()
      .groupBy(col("bucket"))
      .agg(expr("count(*)").as("n"), sum(col("value_cents")).as("sum_cents"))
      .orderBy("bucket")

  /** Top-N pushdown INTO the custom DSv2 source: ORDER BY id DESC LIMIT k
    * reaches the generator, so each slice emits only its LAST k ids (ids are
    * monotone per slice — no sort needed inside the source) and Spark's
    * TakeOrderedAndProject merges 8·k candidate rows instead of scanning
    * 100k. The file-source analogue is a reader that stops after k rows per
    * split. Asserted in PlanSpec via the scan description. */
  private def scanCustomTopn(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.DeterministicSource")
      .option("rows", "100000").option("slices", "8").load()
      .orderBy(col("id").desc).limit(50)

  /** Plain LIMIT pushdown: each slice truncates to its first k ids before
    * any row is generated; the global limit then drains partition 0 —
    * deterministic because slice ranges and drain order both are. */
  private def scanCustomLimit(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.DeterministicSource")
      .option("rows", "100000").option("slices", "8").load()
      .limit(120)
      .orderBy("id")

  /** binaryFile source — the ingestion rung of the multimodal story: opaque
    * payload files land as (path, length, content) rows. Stages a small
    * fixture tree of .bin files from document texts, then reads them back
    * distributed, reducing each payload to length + SHA-256 so the oracle
    * can mirror from the documents table.
    *
    * Staging is DISTRIBUTED (foreachPartition writes each partition's docs;
    * file names are keyed by doc_id so task retries overwrite idempotently)
    * and write-once per sfDir through [[U.stageOnce]] — the streaming
    * replay's staging rule — so the declared query path moves no rows
    * through the driver. */
  private def stageBinFiles(s: SparkSession, d: String): String = {
    val dir = U.scratch(d, "binfiles")
    U.stageOnce(dir, "_GRAFT_STAGED_v1") {
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
      U.tbl(s, d, "documents").filter(col("doc_id") < 24)
        .select(col("doc_id"), col("text"))
        .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
          // executor-side: local-default Hadoop conf resolves the same
          // file:// scratch root as the driver in local mode; on a cluster
          // the scratch root would be a shared filesystem URI
          val tfs = org.apache.hadoop.fs.FileSystem
            .get(new org.apache.hadoop.conf.Configuration())
          for (r <- it) {
            val out = tfs.create(
              new org.apache.hadoop.fs.Path(dir, s"doc_${r.getLong(0)}.bin"), true)
            out.write(r.getString(1)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            out.close()
          }
        }
    }
  }

  private def scanBinaryFile(s: SparkSession, d: String): DataFrame = {
    val dir = stageBinFiles(s, d)
    s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(dir)
      .select(regexp_extract(col("path"), "doc_[0-9]+\\.bin", 0).as("fname"),
        col("length"), sha2(col("content"), 256).as("sha"))
      .orderBy("fname")
  }

  /** Schema-evolution read (mergeSchema): two parquet shards written under
    * different schema versions — v2 added a column — read as ONE dataset;
    * v1 rows surface NULL for the new column. The per-file footer merge is
    * exactly how a 100 TB lakehouse table absorbs schema drift without
    * rewriting old shards. */
  private def scanMergeSchema(s: SparkSession, d: String): DataFrame = {
    val dir = U.scratch(d, "evolving_orders")
    U.tbl(s, d, "orders").filter(year(col("o_orderdate")) === 1995)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/v1")
    U.tbl(s, d, "orders").filter(year(col("o_orderdate")) === 1996)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      .write.mode("overwrite").parquet(s"$dir/v2")
    s.read.option("mergeSchema", "true").parquet(s"$dir/v1", s"$dir/v2")
      .groupBy(coalesce(col("o_orderpriority"), lit("<legacy>")).as("prio"))
      .agg(count(lit(1)).as("n"), U.dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("prio")
  }

  /** Recursive file discovery (`recursiveFileLookup`): data landed by
    * upstream jobs at UNEVEN directory depths — a top-level drop, a
    * dated subfolder, a deeper vendor path — reads as one dataset without
    * hive-style partition naming. The staged layout splits `customer`
    * across depths 1, 2 and 3; the recursive read must reassemble exactly
    * the full table (the oracle aggregates the source directly). Staged
    * write-once through [[U.stageOnce]], like the partitioned sink. */
  private def writeNestedCustomer(s: SparkSession, d: String): String = {
    val root = U.scratch(d, "scan_recursive")
    U.stageOnce(root, "_GRAFT_STAGED_v1") {
      val c = U.tbl(s, d, "customer")
      for ((sub, k) <- Seq("top", "mid/leaf", "mid/deep/leaf").zipWithIndex)
        c.filter(pmod(col("c_custkey"), lit(3)) === k)
          .write.mode("overwrite").parquet(s"$root/$sub")
    }
  }

  private def scanRecursiveDir(s: SparkSession, d: String): DataFrame = {
    val root = writeNestedCustomer(s, d)
    s.read.option("recursiveFileLookup", "true").parquet(root)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), U.dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy("c_mktsegment")
  }

  /** PERMISSIVE malformed-row handling: a CSV shard with two injected bad
    * lines reads without failing — intact fields parse, broken rows land in
    * _corrupt_record — and the query quarantines them into counts + the
    * raw bad lines. At 100 TB dirty shards are a certainty; the PERMISSIVE
    * + corrupt-record column contract is how ingestion survives them
    * without dropping data silently. */
  private def scanCsvPermissive(s: SparkSession, d: String): DataFrame = {
    val dir = U.scratch(d, "csv_permissive")
    U.tbl(s, d, "nation").coalesce(1)
      .write.mode("overwrite").csv(dir)
    val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
    val bad = fs.create(new org.apache.hadoop.fs.Path(dir, "zz_bad.csv"))
    bad.write("not_an_int,REGION_X,9\n77,TRAILING,5,extra_field\n"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    bad.close()
    val schema = nationSchema.add(StructField("_corrupt_record", StringType))
    // cache: Spark disallows querying ONLY the corrupt-record column of a
    // lazily-parsed CSV; materializing first is the documented contract
    val rows = s.read.schema(schema).option("mode", "PERMISSIVE").csv(dir).cache()
    rows.agg(
      count(when(col("_corrupt_record").isNull, lit(1))).as("n_good"),
      count(col("_corrupt_record")).as("n_bad"),
      sum(when(col("_corrupt_record").isNull, col("n_regionkey")))
        .cast(LongType).as("sum_region_good"),
      array_join(array_sort(collect_list(col("_corrupt_record"))), "|")
        .as("bad_lines"))
  }

  /** Merge-on-read with a deletion list (the deletion-vector / tombstone
    * pattern): the base table is never rewritten; deleted row ids live in a
    * tiny side file and every read anti-joins them out. The tombstone set
    * is broadcast, so the base scan streams through unshuffled — at 100 TB
    * this is why row-level deletes cost nothing until compaction. */
  private def scanMergeOnRead(s: SparkSession, d: String): DataFrame = {
    val delDir = U.scratch(d, "tombstones")
    U.events(s, d).filter(pmod(col("event_id"), lit(97L)) === 0)
      .select(col("event_id").as("del_id"))
      .write.mode("overwrite").parquet(delDir)
    // the tombstone set is ~|events|/97 — corpus-scaling, so it rides the
    // size gate (the count is a parquet-footer metadata read): broadcast
    // anti-join below the cap, shuffle-hash anti-join above it
    val (tombstones, wt) = U.sizeGate(s.read.parquet(delDir))
    U.events(s, d)
      .join(wt(tombstones), col("event_id") === col("del_id"),
        "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), U.dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  /** Small-file compaction (the table-maintenance pass every 100 TB lake
    * runs): a 32-way-fragmented write is rewritten into 2 right-sized files
    * via coalesce (no shuffle — partitions are concatenated, not re-keyed).
    * Content must be byte-identical through the rewrite, so the oracle is
    * the identity query; CompactionSpec asserts the file-count drop. */
  private def sinkCompaction(s: SparkSession, d: String): DataFrame = {
    val frag = U.scratch(d, "compact_frag")
    val tidy = U.scratch(d, "compact_tidy")
    U.events(s, d).repartition(32).write.mode("overwrite").parquet(frag)
    s.read.parquet(frag).coalesce(2).write.mode("overwrite").parquet(tidy)
    s.read.parquet(tidy).orderBy("event_id")
  }

  /** Z-order clustered layout: events keyed by the Morton interleave of
    * (user_id, hour) — the multi-dimensional clustering a 100 TB table uses
    * so predicates on EITHER dimension prune to few contiguous key ranges
    * (= few files). The curve key comes from the codegen'd [[graft.plans
    * .ZOrder2]] expression; files are partitioned by the key's top bits and
    * sorted by the full key within each. Output = per-bucket count + both
    * dims' min/max spans — the clustering quality evidence (both spans
    * bounded), bit-identical to the oracle's unrolled-interleave SQL. */
  private def sinkZorder(s: SparkSession, d: String): DataFrame = {
    val dir = U.scratch(d, "zorder_events")
    U.events(s, d)
      .select(col("event_id"), col("user_id"),
        expr("(unix_micros(ts) - 1704067200000000) DIV 3600000000").as("hour_idx"))
      .withColumn("z",
        graft.plans.CustomExprs.zorder2(col("user_id"), col("hour_idx")))
      .withColumn("zbucket", shiftright(col("z"), 16))
      .repartition(col("zbucket")).sortWithinPartitions(col("z"))
      .write.mode("overwrite").partitionBy("zbucket").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("zbucket").cast(LongType).as("zbucket"))
      .agg(count(lit(1)).as("n"),
        min(col("user_id")).as("min_user"), max(col("user_id")).as("max_user"),
        min(col("hour_idx")).as("min_hour"), max(col("hour_idx")).as("max_hour"))
      .orderBy("zbucket")
  }

  /** Batch MERGE INTO (SCD1 upsert — the lakehouse write primitive): a
    * changeset of updates / deletes / inserts is applied to the base table
    * in ONE full-outer join on the key, then the merged image is written
    * and read back. The join is the scale shape: both sides shuffle once on
    * the merge key (or co-locate for free if the table is bucketed by it);
    * per-row CASE picks the surviving version, so the pass is linear and
    * never mutates in place. The changeset here is derived deterministically
    * from the base (keys %10==3 update price +1.00, %10==7 delete, %10==5
    * insert under a shifted key) so the oracle can restate the merge. */
  private def sinkMergeUpsert(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "merge_upsert")
    val base = U.tbl(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
    val m10 = pmod(col("o_orderkey"), lit(10L))
    val changes = base.filter(m10.isin(3L, 5L, 7L))
      .select(
        when(m10 === 5, col("o_orderkey") + lit(100000000L))
          .otherwise(col("o_orderkey")).as("k"),
        col("o_custkey").as("c_cust"),
        when(m10 === 3, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")).as("c_price"),
        col("o_orderdate").as("c_date"),
        when(m10 === 3, lit("U")).when(m10 === 5, lit("I"))
          .otherwise(lit("D")).as("op"))
    base.join(changes, col("o_orderkey") === col("k"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(
        coalesce(col("k"), col("o_orderkey")).as("o_orderkey"),
        when(col("op").isNotNull, col("c_cust")).otherwise(col("o_custkey"))
          .as("o_custkey"),
        when(col("op").isNotNull, col("c_price")).otherwise(col("o_totalprice"))
          .as("o_totalprice"),
        when(col("op").isNotNull, col("c_date")).otherwise(col("o_orderdate"))
          .as("o_orderdate"))
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path).orderBy("o_orderkey")
  }

  /** Generator source: spark.range — parallel, no input files at all. */
  private def scanRange(s: SparkSession, d: String): DataFrame =
    s.range(0, 1000)
      .select(col("id"), (col("id") * col("id")).as("id_sq"),
        pmod(col("id"), lit(7L)).as("id_mod7"))
      .orderBy("id")

  /** Write the events through the custom DSv2 sink
    * ([[graft.sources.StatsSink]]): per-task (count, cent-sum) partials
    * combine at the commit barrier; the query returns the committed totals.
    * The distributed aggregation happens IN the writers — the driver only
    * combines O(tasks) messages — and the result hash-matches the plain
    * SQL aggregate over the same rows. */
  private val statsRunCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private def sinkCustomStats(s: SparkSession, d: String): DataFrame = {
    // per-invocation nonce (same idiom as obsCounter): two concurrent runs
    // over the same sfDir in one JVM must not race on one map entry
    val run = s"graft_${d.replaceAll("[^A-Za-z0-9.]", "_")}" +
      s"_${statsRunCounter.incrementAndGet()}"
    U.events(s, d)
      .select(col("event_id").as("id"), U.cents(col("value")).as("cents"))
      .write.format("graft.sources.StatsSink").option("run", run)
      .mode("append").save()
    // an aborted/never-committed job leaves no entry — surface that as a
    // clear error instead of a destructuring NPE
    val (n, sum) = Option(graft.sources.StatsSink.committed.get(run))
      .getOrElse(sys.error(s"StatsSink: no committed stats for run $run"))
    graft.sources.StatsSink.committed.remove(run) // nonce'd entries never reused
    import s.implicits._
    Seq((n, sum)).toDF("n_rows", "sum_cents")
  }

  /** Session-catalog DDL surface: CREATE TABLE … USING parquet into a
    * scratch location, INSERT INTO … SELECT from the source view, read the
    * catalog table back — the managed-table lifecycle (parser → catalog →
    * InsertIntoHadoopFsRelation → catalog-resolved scan) that pure
    * DataFrame reads never touch. */
  private def sqlDdlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val loc = U.scratch(d, "ddl_nation")
    U.tbl(s, d, "nation").createOrReplaceTempView("nation_src")
    s.sql("DROP TABLE IF EXISTS graft_nation")
    s.sql("CREATE TABLE graft_nation " +
      "(n_nationkey INT, n_name STRING, n_regionkey INT) " +
      s"USING parquet LOCATION '$loc'")
    s.sql("INSERT OVERWRITE graft_nation " +
      "SELECT n_nationkey, n_name, n_regionkey FROM nation_src " +
      "WHERE n_regionkey < 3")
    s.sql("SELECT n_nationkey, n_name, n_regionkey FROM graft_nation " +
      "ORDER BY n_nationkey")
  }

  /** In-flight observability: `Dataset.observe` plants a CollectMetrics
    * node that accumulates exact aggregates WHILE the job runs (no second
    * scan) — the data-quality counter every production pipeline wants.
    * The observed totals (all rows at the observe point, upstream of the
    * later filter) are returned as the query result and hash-match the
    * plain aggregate oracle. */
  private val obsCounter = new java.util.concurrent.atomic.AtomicInteger(0)
  private def observeMetrics(s: SparkSession, d: String): DataFrame = {
    val obs = new org.apache.spark.sql.Observation(
      s"graft_obs_${obsCounter.incrementAndGet()}")
    val observed = U.tbl(s, d, "orders")
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(U.cents(col("o_totalprice"))).as("cents"))
    observed.filter(col("o_orderstatus") === "O").count() // drives the job
    val m = obs.get
    import s.implicits._
    Seq((m("n_rows").asInstanceOf[Long], m("cents").asInstanceOf[Long]))
      .toDF("n_rows", "cents")
  }

  /** Hidden METADATA columns (`_metadata.file_path` & co): per-file lineage
    * every incident-response and backfill job needs ("which files fed this
    * partition?"). File names carry write-time UUIDs, so the oracle-stable
    * projection is the partition DIRECTORY extracted from the path — counts
    * per directory equal the plain partition-column group-by. */
  private def scanFileMetadata(s: SparkSession, d: String): DataFrame =
    s.read.parquet(writePartitionedLineitem(s, d))
      .select(regexp_extract(col("_metadata.file_path"), "dt=([^/]+)", 1)
        .as("dt_dir"))
      .groupBy(col("dt_dir"))
      .agg(count(lit(1)).as("n"))
      .orderBy("dt_dir")

  /** Nested-schema pruning: orders written with a STRUCT payload column,
    * then only one subfield projected — the parquet reader must read just
    * that leaf (`ReadSchema: …payload:struct<price:double>`, asserted in
    * PlanSpec), not the whole struct. At 100 TB with wide event payloads,
    * nested pruning is the difference between scanning one leaf column and
    * deserializing every field of every record. */
  private def nestedPath(s: SparkSession, d: String): String = {
    val path = U.scratch(d, "scan_nested")
    U.stageOnce(path, "_GRAFT_STAGED_v1") {
      U.tbl(s, d, "orders")
        .select(col("o_orderkey"),
          struct(col("o_totalprice").as("price"),
            col("o_orderstatus").as("status"),
            col("o_orderpriority").as("priority")).as("payload"))
        .write.mode("overwrite").parquet(path)
    }
  }

  private def scanNestedPruning(s: SparkSession, d: String): DataFrame =
    s.read.parquet(nestedPath(s, d))
      .select(col("o_orderkey"), col("payload.price").as("price"))
      .orderBy("o_orderkey")

  /** Columnar-encoding control at the sink: zstd-compressed parquet with
    * dictionary encoding — the storage-footprint knob that matters at
    * 100 TB (codec choice is per-write, verified by reading the file
    * footer's codec back). Values round-trip losslessly. */
  /** Parquet BLOOM FILTER write posture: part is rewritten with a bloom
    * filter on p_partkey (`parquet.bloom.filter.enabled#<col>` — the
    * column-specific writer option) plus dictionary off for that column
    * so the filter actually carries the skipping load, then probed with a
    * 3-key IN scan. At 100 TB this is the point-lookup layout: a bloom
    * filter answers "row group definitely lacks this key" where min/max
    * stats are useless on a high-cardinality unsorted column. The oracle
    * probes the ORIGINAL table — a filter that dropped or hallucinated
    * rows hash-fails. */
  private def sinkParquetBloom(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_parquet_bloom")
    U.tbl(s, d, "part")
      .write.mode("overwrite")
      .option("parquet.bloom.filter.enabled#p_partkey", "true")
      .option("parquet.bloom.filter.expected.ndv#p_partkey", "200000")
      .option("parquet.enable.dictionary#p_partkey", "false")
      .parquet(path)
    s.read.parquet(path)
      .filter(col("p_partkey").isin(1L, 77L, 1009L))
      .select(col("p_partkey"), col("p_name"), col("p_brand"),
        col("p_retailprice"))
      .orderBy("p_partkey")
  }

  private def sinkZstd(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_zstd")
    U.tbl(s, d, "part")
      .write.mode("overwrite").option("compression", "zstd").parquet(path)
    s.read.parquet(path).orderBy("p_partkey")
  }

  /** JSON-Lines export — THE interchange format LLM training pipelines
    * ship curated corpora in. Documents round-trip through a gzip'd JSONL
    * directory (one JSON object per line, schema carried per record) and
    * come back value-identical: the oracle reads the ORIGINAL table, so
    * any serialization loss (encoding, number formatting, column drop)
    * hash-fails. Write and read are both distributed line-parallel scans
    * — JSONL's whole point at 100 TB is that any byte-range worker can
    * find a record boundary. */
  private def sinkJsonl(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_jsonl")
    U.tbl(s, d, "documents")
      .write.mode("overwrite").option("compression", "gzip").json(path)
    s.read.json(path)
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  /** CSV sink roundtrip with quoting in play (c_comment carries commas):
    * write gzip CSV with header, read back under the SOURCE schema (CSV
    * carries no types — reading with inference would degrade dtypes and
    * hash-fail), byte-exact against the table oracle. Both writer and
    * reader pin ignore{Leading,Trailing}WhiteSpace=false (Spark's CSV
    * defaults trim unquoted whitespace on write, silently mutating any
    * string column with edge spaces). The export-to-
    * spreadsheet/legacy-feed sibling of [[sinkJsonl]]. */
  private def sinkCsv(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_csv")
    val src = U.tbl(s, d, "customer")
    src.write.mode("overwrite")
      .option("header", "true").option("compression", "gzip")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(path)
    s.read.schema(src.schema).option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(path)
      .orderBy("c_custkey")
  }

  private def sinkParquet(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_orders")
    U.tbl(s, d, "orders").filter(col("o_orderstatus") === "O")
      .write.mode("overwrite").parquet(path)
    s.read.parquet(path).orderBy("o_orderkey")
  }

  /** Bench warm-up: pre-write the shared partitioned layout so the one-time
    * rewrite cost does not land on whichever partitioned-layout query runs
    * first. */
  private[graft] def warm(s: SparkSession, d: String): Unit =
    { writePartitionedLineitem(s, d); () }

  /** Partitioned layout writer — the 100 TB posture: partition by a derived
    * date bucket so downstream scans prune. Partition value is prefixed
    * ("y1995") to keep partition-column type inference at StringType.
    * Write-once through [[U.stageOnce]]: every partitioned-layout query
    * reads it, and the rewrite is the most expensive scratch write in the
    * suite. */
  private def writePartitionedLineitem(s: SparkSession, d: String): String = {
    val path = U.scratch(d, "sink_li_part")
    U.stageOnce(path, "_GRAFT_STAGED_v1") {
      U.tbl(s, d, "lineitem")
        .withColumn("dt", concat(lit("y"), year(col("l_shipdate")).cast(StringType)))
        .write.mode("overwrite").partitionBy("dt").parquet(path)
    }
  }

  /** Dynamic partition overwrite — the incremental-backfill primitive: a
    * second write touching ONLY the 'error' partition replaces exactly that
    * directory (partitionOverwriteMode=dynamic), leaving every other
    * partition's files untouched. The read-back must therefore equal
    * non-error originals + the recomputed error rows — which is exactly
    * what the oracle states. At 100 TB this is how a bad day/source gets
    * repaired without rewriting the table. */
  private def sinkDynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "sink_dyn_ovr")
    val ev = U.events(s, d).select(col("event_id"), col("user_id"),
      col("event_type"), col("value"))
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    U.withConfs(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      ev.filter(col("event_type") === "error")
        .withColumn("value", col("value") * 2)
        .write.mode("overwrite").partitionBy("event_type").parquet(path)
    }
    s.read.parquet(path)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      .orderBy("event_id")
  }

  private def sinkPartitioned(s: SparkSession, d: String): DataFrame = {
    val path = writePartitionedLineitem(s, d)
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic fixtures —
    // sort on the full unique key or the partitioned read scrambles ties.
    s.read.parquet(path)
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
  }

  /** Partition-pruned read over the partitioned layout: the dt filter is a
    * PartitionFilter (directory-level skip — the 100 TB reason to partition
    * at all), asserted in PlanSpec. Self-contained: writes the layout first. */
  private def scanPartitionPruned(s: SparkSession, d: String): DataFrame = {
    val path = writePartitionedLineitem(s, d)
    s.read.parquet(path)
      .filter(col("dt") === "y1998")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), U.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Dynamic partition pruning: the fact side is the dt-partitioned layout,
    * the dim side a tiny year table whose filter (`yr % 2 = 0`) is NOT
    * expressible over the join key — so static constraint propagation can't
    * pre-prune, and Spark instead evaluates the broadcast dim at runtime
    * and skips the odd-year fact DIRECTORIES entirely
    * (`PartitionFilters: [dynamicpruningexpression(dt IN ...)]`, asserted
    * in PlanSpec). At 100 TB this is the difference between scanning 3/7
    * and 7/7 of the table whenever the prunable values are only known
    * after a dim filter runs. */
  private def joinDpp(s: SparkSession, d: String): DataFrame = {
    val path = writePartitionedLineitem(s, d)
    val fact = s.read.parquet(path)
    val dim = U.tbl(s, d, "orders")
      .select(concat(lit("y"), year(col("o_orderdate"))).as("dt2"),
        year(col("o_orderdate")).cast(LongType).as("yr"))
      .distinct()
      .filter(pmod(col("yr"), lit(2L)) === 0L)
    fact.join(broadcast(dim), col("dt") === col("dt2"))
      .groupBy(col("dt"), col("l_returnflag"))
      .agg(count(lit(1)).as("n"), U.dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("dt", "l_returnflag")
  }

  /** CSV roundtrip with EMBEDDED NEWLINES in a quoted field — the parser
    * case that breaks line-splitting readers: every row's text gets
    * its spaces turned into real newlines before the write, and the read
    * back runs under multiLine=true with the source schema. The query
    * also DOCUMENTS the scale trade it makes: multiLine CSV is
    * NON-SPLITTABLE (a record boundary is no longer a line boundary), so
    * the 100 TB posture is many medium files — the write keeps Spark's
    * multi-file layout and each file parses as one unit. Whitespace
    * options pinned like [[sinkCsv]]. */
  private def scanCsvMultiline(s: SparkSession, d: String): DataFrame = {
    val path = U.scratch(d, "scan_csv_multiline")
    val src = U.tbl(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("source"),
        regexp_replace(col("text"), " ", "\n").as("text"))
    src.write.mode("overwrite").option("header", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(path)
    s.read.schema(src.schema).option("header", "true")
      .option("multiLine", "true")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false").csv(path)
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scan_csv_multiline" -> scanCsvMultiline _,
    "join_dpp" -> joinDpp _,
    "scan_custom_runtime_filter" -> scanCustomRuntimeFilter _,
    "scan_partition_pruned" -> scanPartitionPruned _,
    "scan_parquet" -> scanParquet _,
    "scan_events" -> scanEvents _,
    "scan_csv" -> scanCsv _,
    "scan_csv_gzip" -> scanCsvGzip _,
    "scan_json" -> scanJson _,
    "scan_orc" -> scanOrc _,
    "scan_text" -> scanText _,
    "scan_range" -> scanRange _,
    "scan_xml" -> scanXml _,
    "scan_custom_source" -> scanCustomSource _,
    "scan_custom_pushdown" -> scanCustomPushdown _,
    "scan_custom_agg_pushdown" -> scanCustomAggPushdown _,
    "scan_csv_permissive" -> scanCsvPermissive _,
    "scan_recursive_dir" -> scanRecursiveDir _,
    "scan_custom_topn_pushdown" -> scanCustomTopn _,
    "scan_custom_limit_pushdown" -> scanCustomLimit _,
    "scan_binary_file" -> scanBinaryFile _,
    "scan_merge_schema" -> scanMergeSchema _,
    "sink_compaction" -> sinkCompaction _,
    "sink_zorder" -> sinkZorder _,
    "scan_merge_on_read" -> scanMergeOnRead _,
    "sink_merge_upsert" -> sinkMergeUpsert _,
    "sink_parquet" -> sinkParquet _,
    "sink_csv" -> sinkCsv _,
    "sink_jsonl" -> sinkJsonl _,
    "sink_custom_stats" -> sinkCustomStats _,
    "sink_parquet_bloom" -> sinkParquetBloom _,
    "sink_zstd" -> sinkZstd _,
    "sql_ddl_roundtrip" -> sqlDdlRoundtrip _,
    "scan_nested_pruning" -> scanNestedPruning _,
    "scan_file_metadata" -> scanFileMetadata _,
    "observe_metrics" -> observeMetrics _,
    "sink_dynamic_overwrite" -> sinkDynamicOverwrite _,
    "sink_partitioned" -> sinkPartitioned _)

  val oracleSql: Map[String, String] = Map(
    "scan_partition_pruned" ->
      ("SELECT l_returnflag, COUNT(*) AS n, " +
        s"${graft.OSQL.dsum("l_quantity")} AS sum_qty " +
        "FROM lineitem WHERE 'y' || strftime(l_shipdate, '%Y') = 'y1998' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "scan_parquet" -> "SELECT * FROM part ORDER BY p_partkey",
    "sink_compaction" -> "SELECT * FROM events ORDER BY event_id",
    "scan_custom_runtime_filter" ->
      ("SELECT n_name, CAST(n_nationkey * 4000 + 123 AS BIGINT) AS id, " +
        "CAST((n_nationkey * 4000 + 123) % 32 AS BIGINT) AS bucket, " +
        "CAST((CAST(n_nationkey * 4000 + 123 AS BIGINT) * 2654435761) " +
        "% 100000 AS BIGINT) AS value_cents " +
        "FROM nation WHERE n_regionkey = 2 ORDER BY id"),
    "join_dpp" ->
      ("WITH dim AS (SELECT DISTINCT 'y' || CAST(year(o_orderdate) AS VARCHAR) " +
        "AS dt2, CAST(year(o_orderdate) AS BIGINT) AS yr FROM orders), " +
        "f AS (SELECT 'y' || CAST(year(l_shipdate) AS VARCHAR) AS dt, " +
        "l_returnflag, l_quantity FROM lineitem) " +
        "SELECT dt, l_returnflag, COUNT(*) AS n, " +
        s"${graft.OSQL.dsum("l_quantity")} AS sum_qty " +
        "FROM f JOIN (SELECT dt2 FROM dim WHERE yr % 2 = 0) d ON f.dt = d.dt2 " +
        "GROUP BY dt, l_returnflag ORDER BY dt, l_returnflag"),
    "sink_merge_upsert" ->
      ("WITH base AS (SELECT o_orderkey, o_custkey, o_totalprice, " +
        "o_orderdate FROM orders) " +
        "SELECT * FROM (" +
        "SELECT o_orderkey, o_custkey, " +
        "CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1.0 " +
        "ELSE o_totalprice END AS o_totalprice, o_orderdate " +
        "FROM base WHERE o_orderkey % 10 <> 7 " +
        "UNION ALL " +
        "SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderdate " +
        "FROM base WHERE o_orderkey % 10 = 5) ORDER BY o_orderkey"),
    "scan_merge_on_read" ->
      ("SELECT event_type, COUNT(*) AS n, " +
        s"${graft.OSQL.dsum("value")} AS sum_value " +
        "FROM events WHERE event_id % 97 <> 0 " +
        "GROUP BY event_type ORDER BY event_type"),
    "sink_zorder" ->
      ("WITH base AS (SELECT event_id, user_id, " +
        "(epoch_us(ts) - 1704067200000000) // 3600000000 AS hour_idx " +
        "FROM events), " +
        s"zt AS (SELECT *, ${graft.plans.CustomExprs.sqlZorder2("user_id", "hour_idx")} " +
        "AS z FROM base) " +
        "SELECT CAST(z >> 16 AS BIGINT) AS zbucket, COUNT(*) AS n, " +
        "MIN(user_id) AS min_user, MAX(user_id) AS max_user, " +
        "MIN(hour_idx) AS min_hour, MAX(hour_idx) AS max_hour " +
        "FROM zt GROUP BY 1 ORDER BY zbucket"),
    "scan_events" -> "SELECT * FROM events ORDER BY event_id",
    "scan_csv" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "scan_csv_gzip" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "scan_json" -> "SELECT * FROM region ORDER BY r_regionkey",
    "scan_orc" -> "SELECT * FROM supplier ORDER BY s_suppkey",
    "scan_text" -> "SELECT text FROM documents ORDER BY text",
    "scan_range" ->
      ("SELECT range AS id, range * range AS id_sq, range % 7 AS id_mod7 " +
        "FROM range(0, 1000) ORDER BY id"),
    "scan_xml" -> "SELECT * FROM region ORDER BY r_regionkey",
    "scan_custom_source" ->
      ("SELECT bucket, COUNT(*) AS n, CAST(SUM(vc) AS BIGINT) AS sum_cents, " +
        "CAST(SUM(vc) AS DOUBLE) / (100.0 * COUNT(*)) AS avg_value FROM " +
        "(SELECT range % 32 AS bucket, (range * 2654435761) % 100000 AS vc " +
        "FROM range(0, 20000)) WHERE bucket < 8 " +
        "GROUP BY bucket ORDER BY bucket"),
    "scan_custom_pushdown" ->
      ("SELECT range % 32 AS bucket, COUNT(*) AS n, " +
        "CAST(SUM((range * 2654435761) % 100000) AS BIGINT) AS sum_cents " +
        "FROM range(5000, 15000) GROUP BY bucket ORDER BY bucket"),
    "scan_custom_topn_pushdown" ->
      ("SELECT range AS id, range % 32 AS bucket, " +
        "(range * 2654435761) % 100000 AS value_cents " +
        "FROM range(0, 100000) ORDER BY id DESC LIMIT 50"),
    "scan_custom_limit_pushdown" ->
      ("SELECT range AS id, range % 32 AS bucket, " +
        "(range * 2654435761) % 100000 AS value_cents " +
        "FROM range(0, 120) ORDER BY id"),
    "scan_recursive_dir" ->
      ("SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${graft.OSQL.dsum("c_acctbal")} AS sum_bal FROM customer " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "scan_csv_permissive" ->
      ("SELECT (SELECT COUNT(*) FROM nation) AS n_good, " +
        "CAST(2 AS BIGINT) AS n_bad, " +
        "(SELECT CAST(SUM(n_regionkey) AS BIGINT) FROM nation) " +
        "AS sum_region_good, " +
        "'77,TRAILING,5,extra_field|not_an_int,REGION_X,9' AS bad_lines"),
    "scan_binary_file" ->
      ("SELECT 'doc_' || doc_id || '.bin' AS fname, " +
        "CAST(strlen(text) AS BIGINT) AS length, sha256(text) AS sha " +
        "FROM documents WHERE doc_id < 24 ORDER BY fname"),
    "scan_merge_schema" ->
      ("WITH u AS (SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) " +
        "AS o_orderpriority FROM orders WHERE year(o_orderdate) = 1995 " +
        "UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority " +
        "FROM orders WHERE year(o_orderdate) = 1996) " +
        "SELECT COALESCE(o_orderpriority, '<legacy>') AS prio, COUNT(*) AS n, " +
        s"${graft.OSQL.dsum("o_totalprice")} AS sum_price " +
        "FROM u GROUP BY 1 ORDER BY prio"),
    "scan_custom_agg_pushdown" ->
      ("SELECT range % 32 AS bucket, COUNT(*) AS n, " +
        "CAST(SUM((range * 2654435761) % 100000) AS BIGINT) AS sum_cents " +
        "FROM range(0, 20000) GROUP BY bucket ORDER BY bucket"),
    "sink_parquet" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey",
    "sink_csv" -> "SELECT * FROM customer ORDER BY c_custkey",
    "scan_csv_multiline" ->
      ("SELECT doc_id, lang, source, replace(text, ' ', chr(10)) AS text " +
        "FROM documents ORDER BY doc_id"),
    "sink_jsonl" ->
      ("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "ORDER BY doc_id"),
    "sink_custom_stats" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(SUM(${OSQL.cents("value")}) AS BIGINT) AS sum_cents " +
        "FROM events"),
    "sink_parquet_bloom" ->
      ("SELECT p_partkey, p_name, p_brand, p_retailprice FROM part " +
        "WHERE p_partkey IN (1, 77, 1009) ORDER BY p_partkey"),
    "sink_zstd" -> "SELECT * FROM part ORDER BY p_partkey",
    "scan_nested_pruning" ->
      ("SELECT o_orderkey, o_totalprice AS price FROM orders " +
        "ORDER BY o_orderkey"),
    "scan_file_metadata" ->
      ("SELECT 'y' || strftime(l_shipdate, '%Y') AS dt_dir, " +
        "COUNT(*) AS n FROM lineitem GROUP BY 1 ORDER BY dt_dir"),
    "observe_metrics" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        s"CAST(SUM(${OSQL.cents("o_totalprice")}) AS BIGINT) AS cents " +
        "FROM orders"),
    "sql_ddl_roundtrip" ->
      ("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "WHERE n_regionkey < 3 ORDER BY n_nationkey"),
    "sink_dynamic_overwrite" ->
      ("SELECT event_id, user_id, event_type, " +
        "CASE WHEN event_type = 'error' THEN value * 2 ELSE value END AS value " +
        "FROM events ORDER BY event_id"),
    "sink_partitioned" ->
      ("SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, " +
        "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, " +
        "l_shipdate, 'y' || strftime(l_shipdate, '%Y') AS dt FROM lineitem " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"))
}
