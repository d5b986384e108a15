package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}
import scala.jdk.CollectionConverters._

/** Source/sink surface (reference §2.1):
  *  - S1 CSV scan with explicit schema (the reference infers,
  *    main.py:383; production paths declare — SURVEY §1)
  *  - S3 CSV sink, S4 table append sink (parquet; partitioned writes
  *    subsume the reference's 1000-row insert batching, main.py:518-530)
  *  - S5 load-audit metadata append
  */
object Sources {

  /** S1 (main.py:377-400): header CSV with declared schema. The
    * reference's empty-file guard (EmptyDataError) is [[Pipeline]]'s: it
    * sees the row count on the pass that loads the table, so this
    * function runs no job. */
  def readCsv(spark: SparkSession, path: String, table: String): DataFrame = {
    val reader = spark.read.option("header", "true")
    graft.Tables.referenceSchemas.get(table) match {
      case Some(schema) => reader.schema(schema).csv(path)
      case None         => reader.option("inferSchema", "true").csv(path)
    }
  }

  /** S3 (main.py:246-261). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** S4 (main.py:516-530): append to a parquet table directory. Returns
    * the data files this write added, found by listing the directory
    * before and after it; concurrent appends to one table directory
    * would make that listing (and Spark's shared `_temporary`) unsafe. */
  def appendTable(df: DataFrame, dir: String, table: String): Seq[String] = {
    val path = new Path(s"$dir/$table.parquet")
    val before = tableFiles(df.sparkSession, path)
    df.write.mode(SaveMode.Append).parquet(path.toString)
    (tableFiles(df.sparkSession, path) -- before).toSeq.sorted
  }

  /** Undo an [[appendTable]]: delete the files it added, and the table
    * directory too when no data file is left in it. */
  private[etl] def removeAppended(spark: SparkSession, dir: String, table: String, files: Seq[String]): Unit = {
    val path = new Path(s"$dir/$table.parquet")
    val fs = fsOf(spark, path)
    files.foreach(f => fs.delete(new Path(f), false))
    if (tableFiles(spark, path).isEmpty) fs.delete(path, true)
  }

  /** The visible data files directly under a table directory. */
  private def tableFiles(spark: SparkSession, path: Path): Set[String] = {
    val fs = fsOf(spark, path)
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
      .map(_.getPath.toString).toSet
  }

  /** Replace a table with a frame that may read it (the reference
    * UPDATEs in place, main.py:618-628; we snapshot): write the frame to
    * `<table>.parquet_stage` beside the table, then promote it with
    * [[publishDir]], which puts the old table back if the promotion
    * fails. No staging directory is left behind. */
  def replaceTable(df: DataFrame, dir: String, table: String): Unit = {
    val fin = java.nio.file.Paths.get(s"$dir/$table.parquet")
    val stage = fin.resolveSibling(s"$table.parquet_stage")
    try {
      df.write.mode(SaveMode.Overwrite).parquet(stage.toString)
      publishDir(stage, fin)
    } finally rmTree(stage.toFile)
  }

  def readTable(spark: SparkSession, dir: String, table: String): DataFrame =
    graft.Tables.readParquet(spark, s"$dir/$table.parquet")

  /** A table read with its schema declared, which skips the footer read
    * of [[readTable]]. */
  def readTable(spark: SparkSession, dir: String, table: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/$table.parquet")

  /** P11 (main.py:507): deterministic whole-frame content fingerprint.
    * Partition/order-independent: per-row 64-bit hash of the canonical
    * JSON encoding, combined with commutative sum + xor, hex-encoded.
    * (The reference hashes pandas' rendered string; semantic equivalent
    * = stable content checksum, SURVEY §2.2 P11.) The sum and xor are
    * [[checksumExprs]], which the pipeline observes on the pass that
    * writes the table; this function is the same in one job of its own. */
  def checksum(df: DataFrame): String = {
    val exprs = checksumExprs(df.columns.toSeq)
    val row = df.agg(exprs.head, exprs.tail: _*).collect()(0)
    checksumOf(row.getValuesMap[Any](row.schema.fieldNames.toSeq))
  }

  /** The checksum's two aggregates over `cols` (`__ck_sum`, `__ck_xor`),
    * valid in `agg` and in `Dataset.observe`. */
  def checksumExprs(cols: Seq[String]): Seq[Column] = {
    val h = xxhash64(to_json(struct(cols.map(col): _*)))
    // decimal sum: exact and overflow-free under ANSI mode at any row count
    Seq(sum(h.cast("decimal(38,0)")).as("__ck_sum"), bit_xor(h).as("__ck_xor"))
  }

  /** The checksum from the values of [[checksumExprs]]; both are null
    * over no rows. */
  def checksumOf(sums: Map[String, Any]): String = sums("__ck_sum") match {
    case null => "empty"
    case s: java.math.BigDecimal =>
      f"${s.toBigInteger.toString(16)}-${sums("__ck_xor").asInstanceOf[Long]}%016x"
  }

  /** Date-partitioned parquet layout — the at-rest organization a
    * 100 TB fact table needs: writes land in `p_date=YYYY-MM-DD/`
    * directories, and any read filtered on `p_date` prunes whole
    * partitions BEFORE listing files (PartitionFilters in the scan,
    * verified by EtlSpec). The reference's closest analog is its
    * order_date secondary index (main.py:202). */
  def writePartitionedByDate(df: DataFrame, dir: String, table: String,
                             tsCol: String): Unit = {
    import org.apache.spark.sql.functions._
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("p_date")
      .parquet(s"$dir/$table.parquet")
  }

  /** Range-sorted parquet layout: repartitionByRange + sortWithinPartitions
    * on the key before writing, so each output file covers a disjoint,
    * narrow key range and its parquet min/max footer stats let point and
    * range reads skip every other file (and, within a file, every other
    * row group). This is the data-layout lever for key-filtered access
    * on a table too big to index: the poor man's Z-order for a single
    * key. Clustering is physical only — read-side semantics unchanged. */
  def writeSortedByKey(df: DataFrame, dir: String, table: String,
                       key: String, numFiles: Int): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(key))
      .sortWithinPartitions(key)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/$table.parquet")

  /** Upsert/merge into a parquet snapshot: incoming rows replace
    * existing rows with the same key; ties on `versionCol` favor the
    * incoming side. (The reference's ETLOptimizer *suggests* "UPSERT
    * logic" and incremental loads but never implements them,
    * main.py:936-948 — here it is, as a deterministic keyed merge:
    * union → one hash-shuffle on the key → max_by.) */
  def upsertTable(spark: SparkSession, dir: String, table: String,
                  updates: DataFrame, key: String, versionCol: String): Unit = {
    import org.apache.spark.sql.functions._
    val path = new java.io.File(s"$dir/$table.parquet")
    val merged =
      if (!path.exists()) updates
      else {
        val existing = readTable(spark, dir, table)
        val cols = existing.columns.toSeq
        val tagged = existing.withColumn("__src", lit(0))
          .unionByName(updates.selectExpr(cols: _*).withColumn("__src", lit(1)))
        val pick = struct(col(versionCol), col("__src"),
          struct(cols.map(col): _*).as("row"))
        tagged.groupBy(col(key)).agg(max(pick).as("__w"))
          .select(cols.map(c => col(s"__w.row.$c").as(c)): _*)
      }
    replaceTable(merged, dir, table)
  }

  /** S5 (main.py:532-551): one-row load-audit append. */
  case class LoadMeta(
      table_name: String,
      source_file: String,
      records_processed: Long,
      records_inserted: Long,
      records_updated: Long,
      processing_time_seconds: Double,
      data_quality_score: Double,
      checksum: String)

  /** The `etl_metadata` schema in written order: [[LoadMeta]], then
    * `etl_timestamp`. */
  lazy val metadataSchema: StructType =
    Encoders.product[LoadMeta].schema.add("etl_timestamp", TimestampType)

  /** All of a run's audit rows in one append, each with its own
    * `etl_timestamp`: concurrent appends to one parquet path share
    * `_temporary` and are unsafe. */
  def appendMetadata(spark: SparkSession, dir: String,
                     rows: Seq[(LoadMeta, java.sql.Timestamp)]): Unit = {
    val data = rows.map { case (m, ts) => Row.fromSeq(m.productIterator.toSeq :+ ts) }
    spark.createDataFrame(data.asJava, metadataSchema)
      .write.mode(SaveMode.Append).parquet(s"$dir/etl_metadata.parquet")
  }

  /** JSONL sink + source: write a frame as JSON-lines, read it back
    * with a DECLARED schema (inference re-scans the data and can widen
    * types — never in a production path). JSON escapes embedded
    * newlines/quotes, so arbitrary document text round-trips. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** `mode`: PERMISSIVE (default — malformed lines become null rows,
    * the bulk-ingest choice where one bad record must not kill a 100 TB
    * load; count them via a corrupt-record column) or FAILFAST (the
    * validation-pass choice — first malformed line throws). Same
    * error-surface contract as the reference's CSV EmptyDataError
    * guard, applied to the JSONL format. */
  def readJsonl(spark: SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType,
                mode: String = "PERMISSIVE"): DataFrame =
    spark.read.option("mode", mode).schema(schema).json(path)

  /** Driver-checked query: the documents table pushed through the JSONL
    * sink and re-read with its declared schema — the second file format
    * next to CSV (S1/S3) and parquet (S4). The oracle is the identity
    * query on `documents`: a lossless round-trip IS the assertion
    * (any escaping, encoding, or type-mapping defect shows up as a
    * hash mismatch). Text columns with newlines/quotes exercise the
    * escaping path; writes are spark-parallel (one shard per
    * partition), reads are schema-declared — the same shape either
    * direction at 100 TB. */
  /** Per-JVM round-trip scratch root: unique per run (a fixed
    * world-predictable path lets concurrent runs clobber each other,
    * and on a shared host a pre-existing directory owned by someone
    * else would break or poison the round-trip gate), reused across
    * bench reps within a run (Overwrite — no per-rep leak), removed on
    * JVM exit. */
  /** Path under the per-JVM scratch root for cross-query staged
    * artifacts (x109's published keep-list, read by x123). */
  private[graft] def scratchPath(name: String): java.nio.file.Path =
    roundtripRoot.resolve(name)

  /** Collision-resistant scratch key for a corpus dir (ADVICE r11): the
    * old Integer.toHexString(dir.hashCode) could map two different dirs
    * in one JVM to the SAME scratch path on a 32-bit collision, and the
    * publish registries (keyed by the full dir string) would then serve
    * one dir's data for the other. SHA-256 prefix of the full path —
    * 64 bits of digest makes an accidental collision astronomically
    * unlikely rather than birthday-likely at ~2^16 dirs. */
  private[graft] def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  /** Fresh per-invocation scratch root. The manifest/compaction driver
    * queries used to share one dirKey-keyed root and `delete(root,
    * true)` it at entry — so two suites running the same query
    * concurrently destroyed each other's state mid-read (the r13
    * RegistrySpec flakes). A nonce'd root is born empty and private to
    * its invocation; the JVM-exit hook on [[roundtripRoot]] reclaims
    * them all. */
  private[graft] def nonceRoot(prefix: String, dir: String): org.apache.hadoop.fs.Path = {
    // under a dedicated nonce/ subdir so [[sweepNonceRoots]] can reclaim
    // per-invocation scratch WITHOUT touching the published-once
    // [[scratchPath]] artifacts (keep-lists, CC cluster tables) whose
    // in-JVM registries would otherwise dangle
    val p = roundtripRoot.resolve("nonce").resolve(
      s"${prefix}_${dirKey(dir)}_${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.createDirectories(p.getParent)
    new org.apache.hadoop.fs.Path(p.toUri)
  }

  /** Best-effort reclaim of every nonce scratch root created so far.
    * A nonce root stays referenced by its query's returned DataFrame
    * until that frame is fully consumed, so this is safe ONLY between
    * fully-materialized queries in a sequential harness — Bench,
    * ScaleCheck and Verify call it after each query's sink completes;
    * without the sweep a 3-rep bench over the manifest queries keeps a
    * full table copy per rep on disk for the life of the JVM. The
    * JVM-exit hook on [[roundtripRoot]] stays as the backstop for
    * every other caller (tests may hold several roots concurrently). */
  private[graft] def sweepNonceRoots(): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
    }
    val kids = roundtripRoot.resolve("nonce").toFile.listFiles()
    if (kids != null) kids.foreach(rm)
  }

  private lazy val roundtripRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft_roundtrip_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      rm(p.toFile)
    }))
    p
  }

  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val tmp = roundtripRoot.resolve("jsonl").toString
    writeJsonl(docs, tmp)
    readJsonl(s, tmp, docs.schema).orderBy("doc_id")
  }

  /** ORC sink + source — the columnar format next to parquet (Spark
    * ships the ORC reader/writer in core). Predicate pushdown and
    * column pruning work the same as parquet, so the choice is an
    * ecosystem decision, not a capability one; the round-trip query
    * proves type fidelity under the same identity oracle as JSONL. */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def readOrc(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).orc(path)

  /** Driver-checked query: documents through the ORC round-trip —
    * third file format next to CSV (S1/S3) and JSONL (x70); parquet is
    * the native table format throughout. */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val tmp = roundtripRoot.resolve("orc").toString
    writeOrc(docs, tmp)
    readOrc(s, tmp, docs.schema).orderBy("doc_id")
  }

  /** x95: schema evolution across parquet snapshots — a lake written
    * over months GROWS columns, and every reader must keep working.
    * Two generations of the documents table (the older one lacks
    * n_chars) are read together under mergeSchema: old rows surface the
    * new column as null, nothing is rewritten. The scale contract is
    * exactly Spark's: schema reconciliation happens on footers at plan
    * time, data files are never touched — a 100 TB lake evolves by
    * writing new files only. The generation boundary is the doc_id
    * midpoint from a 1-row min/max aggregate (not a fixed constant —
    * a constant outside the corpus's id range would leave one
    * generation empty and data-dependently drop n_chars from the
    * merged schema). `<= split` guarantees gen1 is non-empty on any
    * corpus; gen2 is non-empty whenever ≥ 2 distinct doc_ids exist
    * (the documented minimum-corpus assumption). */
  def schemaEvolutionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.Tables.load(s, dir, "documents")
    // scratch keyed by the input dir (same contract as the streaming
    // sink replay): concurrent calls on different corpora must not
    // share generation paths
    val key = dirKey(dir)
    val gen1 = roundtripRoot.resolve(s"evol_${key}_gen1").toString
    val gen2 = roundtripRoot.resolve(s"evol_${key}_gen2").toString
    val b = docs.agg(min("doc_id").as("lo"), max("doc_id").as("hi")).head()
    // empty corpus → null bounds → both generations empty, which still
    // round-trips (empty parquet writes carry their schema)
    val split = if (b.isNullAt(0)) 0L
      else b.getAs[Long]("lo") + (b.getAs[Long]("hi") - b.getAs[Long]("lo")) / 2
    docs.filter(col("doc_id") <= split)
      .select(col("doc_id"), col("lang"), col("source"))
      .write.mode(SaveMode.Overwrite).parquet(gen1)
    docs.filter(col("doc_id") > split)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .write.mode(SaveMode.Overwrite).parquet(gen2)
    s.read.option("mergeSchema", "true").parquet(gen1, gen2)
      .orderBy("doc_id")
  }

  /** Write orders + customer as BUCKETED tables (16 buckets on the join
    * key, bucket-sorted) and return their catalog names — the co-located
    * join layout. Bucketing is THE shuffle-elimination lever for a
    * repeatedly-joined fact/dim pair at 100 TB: both sides hash-cluster
    * into the same bucket scheme at WRITE time, so every later join on
    * that key reads matching buckets directly — zero Exchange on either
    * side, proven by the plan-asserting spec (SourcesSpec, broadcast
    * disabled so sort-merge must carry it). External tables on the
    * per-run scratch root; names keyed by the input dir (same
    * concurrent-corpora contract as x95). */
  def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    val key = dirKey(dir)
    val ordersT = s"graft_bucketed_orders_$key"
    val custT = s"graft_bucketed_customer_$key"
    graft.Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(16, "o_custkey").sortBy("o_custkey")
      .option("path", roundtripRoot.resolve(ordersT).toString)
      .saveAsTable(ordersT)
    graft.Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
      .write.mode(SaveMode.Overwrite)
      .bucketBy(16, "c_custkey").sortBy("c_custkey")
      .option("path", roundtripRoot.resolve(custT).toString)
      .saveAsTable(custT)
    (ordersT, custT)
  }

  /** The co-located join over [[bucketedTables]], factored so the spec
    * plan-asserts exactly the frame the query runs. */
  def bucketedJoinFrame(s: SparkSession, ordersT: String, custT: String): DataFrame =
    s.table(ordersT)
      .join(s.table(custT), col("o_custkey") === col("c_custkey"))

  /** Driver-checked query: revenue rollup per market segment over the
    * bucketed co-located join. The layout is the deliverable (the
    * rollup proves the bucketed copy is content-identical to the
    * source tables — any bucketing/write defect is a hash mismatch);
    * money in exact integer cents (x105 convention). */
  def bucketedJoinRollup(s: SparkSession, dir: String): DataFrame = {
    val (ordersT, custT) = bucketedTables(s, dir)
    bucketedJoinFrame(s, ordersT, custT)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
           sum(round(col("o_totalprice") * 100, 0).cast("long")).cast("long")
             .as("total_cents"))
      .orderBy("c_mktsegment")
  }

  /** The WAP audit record for one export frame: row count, a
    * commutative per-row content checksum (xor-fold of the md5-prefix
    * 60-bit row hash — order/partition independent, overflow-free, and
    * rebuildable by any engine), and the char mass. concat_ws skips
    * NULLs identically in Spark and DuckDB. */
  private def wapAudit(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
      expr("""bit_xor(CAST(conv(substr(md5(
          concat_ws('|', doc_id, lang, source, n_chars)), 1, 15), 16, 10) AS BIGINT))""")
        .as("content_xor"),
      sum("n_chars").cast("long").as("total_chars"))

  /** Write-Audit-Publish export: the production batch-publish protocol.
    * Stage the export under a non-live path, AUDIT the staged copy by
    * re-reading it through the format and comparing its full audit
    * record (count + content checksum + mass) against the source frame
    * — any write corruption aborts BEFORE anything goes live — then
    * publish with the rename-aside protocol ([[publishDir]]): the live
    * export is moved aside, never deleted, until the new one is in
    * place, so downstream readers can always reach the old export or
    * the complete new one across every crash point, never a partial
    * write and never a lost export.
    * The driver query emits the audit record recomputed from the
    * PUBLISHED location (the whole stage→audit→rename→re-read path is
    * what the oracle hash-checks against the source table). At 100 TB
    * the same shape holds: audits are one aggregate over the staged
    * files, and the publish step is a metadata operation (rename /
    * catalog pointer swap), never a data copy. */
  def publishAuditExport(s: SparkSession, dir: String): DataFrame = {
    val key = dirKey(dir)
    val stage = roundtripRoot.resolve(s"wap_stage_$key")
    val fin = roundtripRoot.resolve(s"wap_final_$key")
    val export = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    export.write.mode(SaveMode.Overwrite).parquet(stage.toString)
    val staged = wapAudit(s.read.parquet(stage.toString)).head()
    val source = wapAudit(export).head()
    if (staged != source)
      throw new IllegalStateException(
        s"WAP audit failed — staged $staged != source $source; publish aborted")
    publishDir(stage, fin)
    wapAudit(s.read.parquet(fin.toString))
      .withColumn("published", lit(true))
  }

  private def rmTree(f: java.io.File): Unit = {
    val kids = f.listFiles(); if (kids != null) kids.foreach(rmTree); f.delete(); ()
  }

  /** Crash-safe publish step of the WAP protocol: promote `stage` to the
    * live path `fin` with the rename-aside dance, so a COMPLETE export is
    * readable at `fin` across every failure point. Order of operations:
    *   1. clear any `<fin>_old` residue from a prior crashed publish;
    *   2. move the live export aside (`fin` → `<fin>_old`) — NOT delete;
    *   3. move `stage` into place; if this fails, roll `<fin>_old` back
    *      to `fin` and rethrow — the old export stays live;
    *   4. only after the new export is in place, delete `<fin>_old`.
    * A crash between 2 and 3 leaves the complete old export at
    * `<fin>_old` (step 1 of the next run would clear it, so recovery
    * must roll it back first — done here before step 1 when `fin` is
    * absent but `<fin>_old` exists). The `move` parameter exists so the
    * spec can inject a failure at the promotion step and prove the old
    * export survives. */
  private[graft] def publishDir(stage: java.nio.file.Path, fin: java.nio.file.Path,
      move: (java.nio.file.Path, java.nio.file.Path) => Unit =
        (a, b) => { java.nio.file.Files.move(a, b,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE); () }): Unit = {
    import java.nio.file.Files
    val old = fin.resolveSibling(fin.getFileName.toString + "_old")
    // crash recovery: a previous publish died between rename-aside and
    // promotion — the aside copy IS the live export; restore it first
    if (!Files.exists(fin) && Files.exists(old))
      Files.move(old, fin, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    rmTree(old.toFile)
    val hadLive = Files.exists(fin)
    if (hadLive) Files.move(fin, old, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    try move(stage, fin)
    catch {
      case e: Throwable =>
        if (hadLive) Files.move(old, fin,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        throw e
    }
    if (hadLive) rmTree(old.toFile)
  }

  /** Data files under a parquet directory as (path, bytes), asked of the
    * Hadoop FileSystem API (round-11 verdict item 8) — the same listing
    * any FileSystem implementation answers (HDFS, S3A, local), so the
    * compaction planner is not married to java.io. Hidden files
    * (`_SUCCESS`, `.crc`, staging residue) are excluded the same way
    * Spark's own scan excludes them. */
  private def dataFiles(s: SparkSession, dir: java.nio.file.Path): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(dir.toUri)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else {
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith("."))
          buf += ((st.getPath.toString, st.getLen))
      }
      buf.toSeq
    }
  }

  /** Bytes of parquet data under a directory — the compaction planner's
    * input, summed from the [[dataFiles]] FileSystem listing. */
  private def parquetBytes(s: SparkSession, dir: java.nio.file.Path): Long =
    dataFiles(s, dir).map(_._2).sum

  /** Small-files compaction — the table-maintenance pass every
    * long-lived 100 TB table needs: streaming/incremental appends leave
    * thousands of KB-scale files, and scan cost becomes file-open
    * bound (task-per-file, footer reads, listing) instead of data
    * bound. Rewrite the directory into ⌈bytes / targetFileBytes⌉
    * near-equal files: one read, one `repartition(n)` round-robin
    * exchange (even file sizes, no key skew), one write — then swap
    * the compacted copy in via the crash-safe rename-aside publish
    * ([[publishDir]]): no crash point loses the export or leaves a
    * partial one readable, though a concurrent reader can catch the
    * brief between-renames window where the path is absent — a true
    * atomic swap needs symlink/manifest indirection, which is exactly
    * the transactional commit a table format supplies at production
    * scale (ADVICE r11). Content is untouched BY CONSTRUCTION and the
    * driver query proves it: the oracle is the identity query on the
    * source table.
    * Returns the compacted file count for the spec's layout check. */
  def compactParquetDir(s: SparkSession, src: java.nio.file.Path,
                        targetFileBytes: Long): Int = {
    val n = math.max(1L,
      (parquetBytes(s, src) + targetFileBytes - 1) / targetFileBytes).toInt
    val stage = src.resolveSibling(src.getFileName.toString + "_compact_stage")
    s.read.parquet(src.toString)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    publishDir(stage, src)
    n
  }

  /** Incremental small-files compaction (round-11 verdict item 4):
    * x127 rewrites the WHOLE directory, which is the right first pass
    * but the wrong steady-state maintenance job — on a table where 99%
    * of bytes already sit in compliant files, rewriting them over and
    * over is unbounded write amplification. This pass:
    *   1. lists the directory's data files ([[dataFiles]], FileSystem
    *      API) and splits them at `smallFloorBytes`;
    *   2. if fewer than two small files exist, does NOTHING (returns 0
    *      — a repeated run is a no-op, which the spec asserts);
    *   3. reads ONLY the small files, round-robins them into
    *      ⌈smallBytes / targetFileBytes⌉ staged files;
    *   4. brings every compliant file into the staged dir as a HARD
    *      LINK — a metadata operation, zero bytes copied, and the
    *      original file NAMES survive (spec-asserted);
    *   5. swaps the staged dir in via the crash-safe [[publishDir]].
    * Write amplification is therefore bounded by the small-file bytes,
    * never the table. The link step is the local-FS stand-in for what
    * a table format's rewrite-data-files commit does on an object
    * store (re-point the manifest at the same large data files);
    * [[publishDir]]'s crash-safety analysis carries over unchanged
    * because the publish unit is still one directory swap.
    * Returns the number of NEW files written (0 = no-op). */
  def compactSmallFiles(s: SparkSession, src: java.nio.file.Path,
                        targetFileBytes: Long, smallFloorBytes: Long): Int = {
    import java.nio.file.{Files, Paths}
    val (smalls, compliant) = dataFiles(s, src).partition(_._2 < smallFloorBytes)
    if (smalls.length < 2) return 0
    val stage = src.resolveSibling(src.getFileName.toString + "_compact_stage")
    rmTree(stage.toFile)
    val smallBytes = smalls.map(_._2).sum
    val n = math.max(1L,
      (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
    s.read.parquet(smalls.map(_._1): _*)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(stage.toString)
    // Compliant files come over as hard links ONLY on the local FS —
    // createLink on an HDFS/S3A URI would throw after the small-file
    // rewrite already ran (ADVICE r12). Non-file schemes fall back to a
    // FileSystem-API copy (correct everywhere, but it moves bytes); the
    // zero-copy path for object stores is the manifest re-point
    // ([[manifestCompactSmallFiles]]).
    compliant.foreach { case (uri, _) =>
      val u = java.net.URI.create(uri)
      if (u.getScheme == null || u.getScheme == "file") {
        val f = Paths.get(u)
        Files.createLink(stage.resolve(f.getFileName.toString), f)
      } else {
        val conf = s.sparkContext.hadoopConfiguration
        val from = new org.apache.hadoop.fs.Path(u)
        val to = new org.apache.hadoop.fs.Path(stage.resolve(from.getName).toUri)
        org.apache.hadoop.fs.FileUtil.copy(from.getFileSystem(conf), from,
          to.getFileSystem(conf), to, false, conf)
      }
    }
    publishDir(stage, src)
    n
  }

  // ----- Manifest-indirection table layout (x132, verdict r12 item 3) --
  //
  // The directory-swap publish above is crash-safe but NOT reader-atomic
  // (a reader can catch the between-renames window), and the hard-link
  // step in [[compactSmallFiles]] is a local-FS stand-in. This layout is
  // the named next rung — the transactional core every production table
  // format (Iceberg/Delta) builds on:
  //
  //   <root>/data/w-<n>/part-*.parquet   immutable data files; every
  //                                      write lands in a FRESH subdir,
  //                                      no name is ever reused
  //   <root>/_manifests/m-<v>.txt        one data-file URI per line —
  //                                      the complete file set of
  //                                      version v, immutable
  //   <root>/_current                    one line: the live manifest
  //                                      name. The ONLY mutable object.
  //
  // Commit = write the new manifest (a new immutable object), then swap
  // the one-line pointer with an atomic overwrite-rename
  // (FileContext.rename(OVERWRITE) — atomic on HDFS and POSIX; on an
  // object store the same one-object commit is a conditional PUT /
  // putIfMatch on `_current`, which is exactly how Delta commits work
  // on S3). A reader resolves `_current` ONCE and then reads only
  // immutable objects, so it sees exactly the old file set or exactly
  // the new one — never a partial mix, and never an absent path.
  // Everything goes through the Hadoop FileSystem API: no links, no
  // directory renames, object-store compatible by construction.

  private def fsOf(s: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** The checksum-free view of a filesystem (identity off local FS);
    * used only for the `_current` pointer — see [[manifestCommit]]. */
  private def rawOf(fs: org.apache.hadoop.fs.FileSystem) = fs match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case other                                      => other
  }

  private def manifestRoot(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_manifests")
  private def currentPtr(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_current")
  private def schemaPtr(root: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(root, "_schema.json")

  // ----- Manifest entries -----------------------------------------------
  //
  // One typed line per entry. The SEQUENCE NUMBER is a manifest-line
  // column assigned from the version the commit actually CLAIMED (inside
  // the OCC retry loop), never from the version the writer observed
  // before retrying — Iceberg assigns sequence at commit for exactly
  // this reason: a retried append/delete whose path-baked tag predated
  // the winner's commit would mis-order against interleaved deletes.
  // Zone stats (x148) are entries too, committed ATOMICALLY with the
  // data files they describe — no sidecar a racing reader can catch
  // mid-write.

  private[graft] sealed trait ManifestEntry { def line: String }
  private[graft] final case class DataFileEntry(seq: Long, uri: String)
      extends ManifestEntry { def line = s"w\t$seq\t$uri" }
  /** `keys` = the delete's equality-key COLUMN NAMES and
    * `keySchemaJson` the key columns' StructType JSON, both recorded
    * at commit time. Readers group delete files by the (names, TYPES)
    * pair and read each group with the recorded schema — one
    * `read.parquet(mixed-schema files)` across heterogeneous key
    * schemas lets parquet schema inference pick whichever footer it
    * samples first: across heterogeneous NAMES it silently null-fills
    * the others (a delete that nondeterministically stops applying,
    * the EtlSpec:744 flake), and across a lossless type WIDENING of
    * the same name (int n, then long n) it nondeterministically fails
    * or coerces depending on which footer it samples. Empty
    * `keys`/`keySchemaJson` = legacy/hand-written entry; the reader
    * falls back to the file's own footer (per FILE, so still
    * deterministic). */
  private[graft] final case class DeleteFileEntry(seq: Long, uri: String,
      keys: Seq[String] = Nil, keySchemaJson: Option[String] = None)
      extends ManifestEntry {
    def line = (keys, keySchemaJson) match {
      case (Nil, _)          => s"d\t$seq\t$uri"
      case (ks, None)        => s"d\t$seq\t$uri\t${ks.mkString(",")}"
      case (ks, Some(j))     => s"d\t$seq\t$uri\t${ks.mkString(",")}\t$j"
    }
  }
  private[graft] final case class ZoneStatEntry(uri: String, lo: Long, hi: Long)
      extends ManifestEntry { def line = s"z\t$lo\t$hi\t$uri" }
  /** The schema a commit appended with, as StructType JSON (compact —
    * never contains a tab). The fold of schema entries in sequence
    * order is the table's UNION SCHEMA, which the additive-evolution
    * gate ([[validateAdditiveSchema]]) checks new appends against —
    * the Iceberg schema-in-metadata idea: evolution is decided from
    * the manifest alone, no data-file footer is opened. Only commits
    * that WIDEN the union (or the first commit) write one, so the
    * manifest carries O(evolutions) schema lines, not O(commits). */
  private[graft] final case class SchemaEntry(seq: Long, json: String)
      extends ManifestEntry { def line = s"s\t$seq\t$json" }

  /** A plain unprefixed line parses as a seq-0 data file, so a manifest
    * hand-written with bare URIs still reads (and every delete applies
    * to it, which is the conservative direction). */
  private[graft] def parseEntry(l: String): ManifestEntry =
    l.split("\t", 5) match {
      case Array("w", v, u)       => DataFileEntry(v.toLong, u)
      case Array("d", v, u)       => DeleteFileEntry(v.toLong, u)
      case Array("d", v, u, k)    => DeleteFileEntry(v.toLong, u, k.split(",").toSeq)
      case Array("d", v, u, k, j) =>
        DeleteFileEntry(v.toLong, u, k.split(",").toSeq, Some(j))
      case Array("s", v, j)       => SchemaEntry(v.toLong, j)
      case Array("z", lo, hi, u)  => ZoneStatEntry(u, lo.toLong, hi.toLong)
      case _                      => DataFileEntry(0L, l)
    }
  private[graft] def parseEntries(lines: Seq[String]): Seq[ManifestEntry] =
    lines.map(parseEntry)
  private[graft] def dataEntries(lines: Seq[String]): Seq[DataFileEntry] =
    parseEntries(lines).collect { case e: DataFileEntry => e }
  private[graft] def deleteEntries(lines: Seq[String]): Seq[DeleteFileEntry] =
    parseEntries(lines).collect { case e: DeleteFileEntry => e }

  /** Lossless promotions the evolution gate accepts for a shared
    * column — the Iceberg type-promotion set restricted to what both
    * engines coerce identically (int→long, float→double; every Union
    * in the read path widens the same way via WidenSetOperationTypes,
    * so old narrow files read as the wide type with exact values). */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case _                                              => false
    }
  }

  /** Name-based additive fold: `a` plus every `b` field `a` lacks;
    * a shared field takes `b`'s type when `b` widens it (so the union
    * always carries the WIDEST committed type). */
  private def unionAdd(a: org.apache.spark.sql.types.StructType,
      b: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    val byName = b.fields.map(f => f.name -> f).toMap
    val have = a.fieldNames.toSet
    org.apache.spark.sql.types.StructType(
      a.fields.map { f =>
        byName.get(f.name) match {
          case Some(g) if widensTo(f.dataType, g.dataType) => g
          case _                                           => f
        }
      } ++ b.fields.filterNot(f => have(f.name)))
  }

  /** The table's union schema as recorded by [[SchemaEntry]] lines
    * (sequence-order fold; None for a pre-schema-entry manifest). */
  private[graft] def recordedUnionSchema(entries: Seq[ManifestEntry])
      : Option[org.apache.spark.sql.types.StructType] = {
    val ss = entries.collect { case e: SchemaEntry => e }.sortBy(_.seq)
    if (ss.isEmpty) None
    else Some(ss.map(e => org.apache.spark.sql.types.DataType.fromJson(e.json)
      .asInstanceOf[org.apache.spark.sql.types.StructType]).reduce(unionAdd))
  }

  /** Thrown at WRITE time when an append's schema drifts
    * non-additively from the table's recorded union schema. */
  private[graft] final class SchemaEvolutionViolation(msg: String)
      extends IllegalArgumentException(msg)

  /** The additive-evolution gate, run INSIDE the OCC commit closure so
    * a retried commit re-validates against the winner's entry set: the
    * appended schema must carry every column of the recorded union
    * schema at an identical type; it may ADD columns (the Iceberg
    * add-column contract). A rename or typo'd column surfaces here as
    * a missing column and fails the WRITE — without this gate,
    * name-based union reads would silently null-fill every other
    * generation instead (a rename becoming a silent drop+add).
    * Returns the schema lines this commit must add: the new (widened)
    * schema when it adds columns, the first schema on a fresh table,
    * nothing otherwise. */
  private def validateAdditiveSchema(old: Seq[String], v: Long,
      schema: org.apache.spark.sql.types.StructType,
      persisted: => Option[org.apache.spark.sql.types.StructType]): Seq[String] = {
    require(schema.fieldNames.forall(n => !n.contains("\t") && !n.contains("\n")),
      "column names must not contain tab/newline (manifest line format)")
    val entries = parseEntries(old)
    val recorded = recordedUnionSchema(entries)
    // PRE-UPGRADE TABLE (data entries but no SchemaEntry lines, i.e.
    // committed before schema lines existed): seed the union from the
    // persisted _schema.json rather than trusting the incoming append —
    // otherwise the FIRST post-upgrade append seeds the union from its
    // own schema with no validation, and a rename/drop in that append
    // passes silently and permanently narrows the recorded union.
    val base = recorded.orElse(
      if (entries.exists(_.isInstanceOf[DataFileEntry])) persisted else None)
    base match {
      case None => Seq(SchemaEntry(v, schema.json).line)
      case Some(u) =>
        val newTypes = schema.fields.map(f => f.name -> f.dataType).toMap
        val missing = u.fields.filterNot(f => newTypes.contains(f.name))
        if (missing.nonEmpty) throw new SchemaEvolutionViolation(
          s"non-additive append at v$v: column(s) " +
            missing.map(_.name).mkString("`", "`, `", "`") +
            " of the table's union schema are absent from the appended " +
            "schema — renames/drops are not implicit evolution; rewrite " +
            "the table explicitly or append with the full schema")
        // shared columns: identical type, or a lossless WIDENING
        // (int→long, float→double — the Iceberg promotion set); a
        // NARROWING or unrelated retype is drift and fails the write
        val retyped = u.fields.filter(f => newTypes(f.name) != f.dataType &&
          !widensTo(f.dataType, newTypes(f.name)))
        if (retyped.nonEmpty) throw new SchemaEvolutionViolation(
          s"type drift at v$v: " + retyped.map(f =>
            s"`${f.name}` ${f.dataType.simpleString} -> " +
              newTypes(f.name).simpleString).mkString(", ") +
            " — appended column types must match or losslessly widen " +
            "the recorded union schema")
        val widened = unionAdd(u, schema)
        // a pre-upgrade table writes its first schema line even when
        // nothing widened, so later commits validate from the manifest
        // (the stated source of truth) instead of the persisted fallback
        if (recorded.isEmpty || widened != u)
          Seq(SchemaEntry(v, widened.json).line)
        else Nil
    }
  }

  /** Completeness marker: the LAST line of every committed manifest.
    * The exclusive create claims the version before the body lands, so
    * a janitor (or a reader falling back from an absent pointer) must
    * be able to tell a committed manifest from an in-flight claim — a
    * body without the marker is a claim still being written (or a
    * crashed one). */
  private val EofMark = "#eof"

  /** Manifest FORMAT version this reader understands. Every commit
    * stamps its body with `#graft-format N` as the first line; a
    * reader that finds N above its own support level fails LOUDLY
    * instead of misparsing entries it doesn't know (ADVICE r18: the
    * 5-field delete line would have been silently folded into the
    * keys field by a pre-change reader's split("\t", 4) — a delete
    * that silently stops applying). A body with NO format line is
    * format 1 (pre-marker manifests, all readable). The marker is a
    * comment line, so pre-marker readers skip it — the guarantee is
    * forward from this version: any future format bump is rejected
    * loudly by every reader at this level or above. */
  private[graft] val ManifestFormat = 1
  private def formatLine(n: Int) = s"#graft-format $n"

  private[graft] final class ManifestFormatUnsupported(n: Int, where: String)
    extends RuntimeException(
      s"manifest at $where declares format $n; this reader supports " +
        s"<= $ManifestFormat — refusing to read (misparsing newer entry " +
        "kinds silently drops deletes/schema lines)")

  /** Loud forward-compat gate — called on every manifest body before
    * its entries are parsed. */
  private def checkManifestFormat(body: String, where: String): Unit =
    body.linesIterator.map(_.trim)
      .find(_.startsWith("#graft-format")).foreach { l =>
        val n = l.stripPrefix("#graft-format").trim.toIntOption
          .getOrElse(Int.MaxValue)
        if (n > ManifestFormat) throw new ManifestFormatUnsupported(n, where)
      }

  private def writeSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readSmall(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Manifest version numbers present on disk, descending (bodies not
    * read — claims and complete manifests both listed). */
  private def manifestVersionsOnDisk(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] = {
    val mdir = manifestRoot(root)
    if (!fs.exists(mdir)) Nil
    else fs.listStatus(mdir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("m-") && n.endsWith(".txt"))
      .flatMap(_.stripPrefix("m-").stripSuffix(".txt").toLongOption)
      .sorted.reverse
  }

  /** Highest COMPLETE (EofMark-terminated) manifest on disk outside
    * `excluding`, with its body — the fallback resolve when the
    * pointer is missing or names a reclaimed manifest. Manifests are
    * immutable once the marker lands, so whatever this returns is a
    * committed, consistent version. */
  private def latestCompleteManifest(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      excluding: Set[Long] = Set.empty): Option[(Long, String)] = {
    val mdir = manifestRoot(root)
    manifestVersionsOnDisk(fs, root).iterator.filterNot(excluding).map { v =>
      val body =
        try readSmall(fs, new org.apache.hadoop.fs.Path(mdir, s"m-$v.txt"))
        catch { case _: java.io.IOException => "" }
      (v, body)
    }.find(_._2.linesIterator.exists(_.trim == EofMark))
  }

  /** The live version number. Normally ONE read of the `_current`
    * pointer; if the pointer is absent (empty table — or we raced the
    * delete-then-rename window of a local-FS pointer swap, where the
    * pointer is briefly missing), fall back to the highest COMPLETE
    * manifest on disk: manifests are immutable once their [[EofMark]]
    * lands, so that view is always a committed version ≥ the one the
    * lagging pointer names — consistent, never partial. */
  private def resolveLiveVersion(s: SparkSession,
      root: org.apache.hadoop.fs.Path): Long = {
    val fs = fsOf(s, root)
    val viaPtr =
      try {
        val name = readSmall(rawOf(fs), currentPtr(root)).trim
        name.stripPrefix("m-").stripSuffix(".txt").toLongOption
      } catch { case _: java.io.IOException => None }
    viaPtr.getOrElse(
      latestCompleteManifest(fs, root).map(_._1).getOrElse(0L))
  }

  /** Live (version, entryLines) of a manifest table, resolved through
    * the `_current` pointer. The resolve is ONE read of ONE immutable
    * name; everything after it is immutable, which is the whole
    * reader-atomicity argument. Comment lines (the [[EofMark]]) are
    * stripped. */
  private[graft] def currentManifest(s: SparkSession,
      root: org.apache.hadoop.fs.Path): (Long, Seq[String]) = {
    val v = resolveLiveVersion(s, root)
    if (v == 0L) return (0L, Nil)
    val fs = fsOf(s, root)
    val (rv, body) =
      try (v, readSmall(fs,
        new org.apache.hadoop.fs.Path(manifestRoot(root), s"m-$v.txt")))
      catch {
        case _: java.io.IOException =>
          // the pointer can name a manifest that no longer exists: a
          // zombie claimant's swap landed after the janitor reclaimed
          // its manifest (grace-window caveat at [[ClaimGraceMs]]).
          // Fall back to the highest complete manifest EXCLUDING the
          // missing version — an older but committed, consistent view;
          // the next commit's swap repairs the pointer.
          latestCompleteManifest(fs, root, excluding = Set(v))
            .getOrElse(return (0L, Nil))
      }
    checkManifestFormat(body, s"$root m-$rv.txt")
    (rv, body.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
  }

  /** A writer lost the race for its manifest version — re-read the
    * table state and retry ([[commitWithRetry]]). */
  private[graft] final class ManifestCommitConflict(v: Long)
    extends RuntimeException(s"manifest version $v already claimed")

  /** Point `_current` at manifest `name` (= version `v`): write-aside
    * to a nonce'd tmp, then ONE OVERWRITE rename. Two hardenings over
    * a bare rename, both needed under real writer contention:
    *  - MONOTONE GUARD + POST-RENAME REPAIR: never move the pointer
    *    backwards. The guard alone is check-then-act — between reading
    *    the pointer and our rename a higher-version swap can land, and
    *    our stale rename then regresses the pointer (and the higher
    *    committer, having already swapped, never re-checks). So after
    *    the rename we LIST the manifest dir: if a version above `v`
    *    exists with a complete body, we re-swap to it. In the no-race
    *    case our own manifest is the max — one listStatus, zero body
    *    reads. Readers inside the (now self-healing) window see an
    *    older but consistent snapshot, never a partial one.
    *  - BOUNDED RETRY on IOException: the local AbstractFileSystem's
    *    OVERWRITE rename is delete-then-rename, and two swaps in the
    *    window throw FileAlreadyExistsException. The exclusive create
    *    guarantees at most one committer per version, so repeating the
    *    swap is always safe — the race is transient by construction. */
  private def swapPointer(s: SparkSession, root: org.apache.hadoop.fs.Path,
      v: Long, name: String): Unit = {
    val fs = fsOf(s, root)
    val raw = rawOf(fs)
    def ptrVersion(): Option[Long] =
      try readSmall(raw, currentPtr(root)).trim
        .stripPrefix("m-").stripSuffix(".txt").toLongOption
      catch { case _: java.io.IOException => None }
    // one monotone-guarded rename of the pointer to version tv
    def swapOnce(tv: Long, tn: String): Unit = {
      var attempt = 0
      while (true) {
        if (ptrVersion().exists(_ >= tv)) return
        val tmp = new org.apache.hadoop.fs.Path(root,
          s"_current.tmp-$tv-${java.util.UUID.randomUUID().toString.take(8)}")
        // The pointer is written RAW (no checksum sidecar): on the local
        // ChecksumFileSystem the swap would otherwise be TWO renames
        // (data + .crc), and a reader between them pairs new pointer
        // bytes with the old crc → spurious ChecksumException under
        // writer contention. With no crc the swap is one rename;
        // HDFS/S3A are unaffected (not ChecksumFileSystems).
        writeSmall(raw, tmp, tn + "\n")
        try {
          val fc = org.apache.hadoop.fs.FileContext.getFileContext(
            root.toUri, s.sparkContext.hadoopConfiguration)
          fc.rename(tmp, currentPtr(root),
            org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          return
        } catch {
          case e: java.io.IOException =>
            try raw.delete(tmp, false) catch { case _: java.io.IOException => () }
            attempt += 1
            if (attempt >= 10) throw e
            Thread.sleep(2L * attempt)
        }
      }
    }
    swapOnce(v, name)
    // POST-RENAME REPAIR, as its own loop AFTER the swap (never inside
    // the rename's retry try/catch — a transient exception mid-repair
    // must not silently abandon it): while a COMPLETE manifest above
    // what the pointer names exists, swap up to it. In the no-race case
    // our own manifest is the max — one listStatus, zero body reads.
    // Best-effort beyond that: the commit itself already succeeded, and
    // an unrepaired window still only shows older consistent snapshots
    // until the next commit or janitor pass.
    try {
      var spins = 0
      while (spins < 50) {
        spins += 1
        val cur = ptrVersion().getOrElse(0L)
        if (manifestVersionsOnDisk(fs, root).headOption.forall(_ <= cur)) return
        val h = latestCompleteManifest(fs, root).map(_._1).getOrElse(0L)
        if (h <= cur) return
        swapOnce(h, s"m-$h.txt")
      }
    } catch { case _: java.io.IOException => () }
  }

  /** Commit `entryLines` as version `v`: EXCLUSIVELY create the
    * immutable manifest — the create is the commit's atomic claim on
    * the version (two writers that both read v race for `m-(v+1).txt`;
    * exactly one create succeeds, the loser gets
    * [[ManifestCommitConflict]] and must re-read + retry, so no
    * writer's file set is ever silently clobbered — the lost-update
    * guard every table format's log provides). The body ends with the
    * [[EofMark]] completeness marker, then `_current` is re-pointed
    * through [[swapPointer]]. A crash between claim and pointer swap
    * leaves a dangling version that the [[commitWithRetry]] janitor
    * rolls forward (complete body) or reclaims (incomplete body after
    * a grace window) — never silent data loss.
    *
    * GUARANTEE SCOPE: the claim is a REAL O_EXCL create. On a local
    * `file:` store Hadoop's create(overwrite=false) is an exists-check
    * followed by a plain open — check-then-act, two racers can both
    * "win" and the loser TRUNCATES the winner's committed manifest (a
    * silently lost append, observed in the OCC storm spec before this
    * path existed) — so local claims go through NIO CREATE_NEW, which
    * maps to open(O_CREAT|O_EXCL). HDFS create(overwrite=false) is an
    * atomic NameNode namespace op and is used as-is. Plain object
    * stores (S3A) have no atomic create at all — the reason
    * Delta/Iceberg require a conditional-PUT LogStore there; an
    * object-store port swaps this one call for a conditional PUT of
    * the manifest name. */
  private[graft] def manifestCommit(s: SparkSession,
      root: org.apache.hadoop.fs.Path, v: Long, entryLines: Seq[String]): Unit = {
    val fs = fsOf(s, root)
    val name = s"m-$v.txt"
    val p = new org.apache.hadoop.fs.Path(manifestRoot(root), name)
    fs.mkdirs(manifestRoot(root))
    // null scheme = the default FS, which is local here exactly like an
    // explicit `file:` URI (the line-515 convention) — it must take the
    // same O_EXCL path or the race this clause exists to close reopens
    // for scheme-less roots. getPath (not Paths.get(URI)) because a
    // scheme-less URI is rejected by the NIO file-URI constructor.
    val scheme = p.toUri.getScheme
    val out: java.io.OutputStream =
      if (scheme == null || scheme == "file")
        try java.nio.file.Files.newOutputStream(
          java.nio.file.Paths.get(p.toUri.getPath),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        catch { case _: java.io.IOException => throw new ManifestCommitConflict(v) }
      else
        try fs.create(p, false)
        catch { case _: java.io.IOException => throw new ManifestCommitConflict(v) }
    try out.write((formatLine(ManifestFormat) +: entryLines :+ EofMark)
      .mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    swapPointer(s, root, v, name)
  }

  /** Default grace before an incomplete (markerless) claim is treated
    * as abandoned and reclaimed. A manifest body is a few KB written
    * in one call, so a healthy claimant finishes in milliseconds; 30 s
    * of incompleteness means a crashed writer. (The residual zombie
    * window — a claimant that stalls BETWEEN its create and its write
    * for longer than the grace, then wakes after its claim was
    * reclaimed and re-used — is the same abandoned-transaction
    * ambiguity every timestamp-based janitor accepts; shrinking it
    * needs writer heartbeats or a CAS metastore.) */
  private val ClaimGraceMs = 30000L

  /** The dangling-claim janitor. A conflicted writer observed version
    * `observed` but could not claim `observed+1` — inspect the blocker:
    *  - COMPLETE body (EofMark present): a committed version whose
    *    pointer swap didn't land (crashed committer, or its swap is
    *    in flight). Finish the swap for it — [[swapPointer]]'s
    *    monotone guard makes this idempotent with the owner's own
    *    swap — and the retry loop then re-reads the newer state.
    *  - INCOMPLETE body older than `graceMs`: a claim whose writer
    *    died between create and write. Reclaim (delete) it so the
    *    version number is claimable again.
    *  - INCOMPLETE and young: a live commit mid-write; just wait. */
  private def janitorDanglingClaim(s: SparkSession,
      root: org.apache.hadoop.fs.Path, observed: Long, graceMs: Long): Unit = {
    val fs = fsOf(s, root)
    val p = new org.apache.hadoop.fs.Path(manifestRoot(root),
      s"m-${observed + 1}.txt")
    val st =
      try fs.getFileStatus(p)
      catch { case _: java.io.IOException => return }
    val body =
      try readSmall(fs, p)
      catch { case _: java.io.IOException => return }
    if (body.linesIterator.exists(_.trim == EofMark))
      swapPointer(s, root, observed + 1, p.getName)
    else if (System.currentTimeMillis() - st.getModificationTime > graceMs) {
      try { fs.delete(p, false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** Optimistic-concurrency commit loop: re-resolve the live entry
    * set, apply `entries(liveLines, claimedVersion)` to it, claim the
    * next version; on conflict, run the dangling-claim janitor, back
    * off, and re-derive from the winner's state. The callback receives
    * the version the commit will land at, so new entries carry their
    * COMMIT sequence (never the stale observed one — the Iceberg
    * assign-at-commit rule). Returns the committed version. Safe for
    * concurrent APPEND-shaped commits; delete and maintenance commits
    * are single-writer by contract (scaladoc at the call sites). */
  private[graft] def commitWithRetry(s: SparkSession,
      root: org.apache.hadoop.fs.Path, maxAttempts: Int = 50,
      claimGraceMs: Long = ClaimGraceMs)(
      entries: (Seq[String], Long) => Seq[String]): Long = {
    var attempt = 0
    while (true) {
      val (v, cur) = currentManifest(s, root)
      try { manifestCommit(s, root, v + 1, entries(cur, v + 1)); return v + 1 }
      catch {
        case _: ManifestCommitConflict =>
          attempt += 1
          janitorDanglingClaim(s, root, v, claimGraceMs)
          require(attempt < maxAttempts,
            s"gave up after $attempt conflicted commits at $root — " +
              "a dangling claimed version is being written or held")
          Thread.sleep(2L * attempt)
      }
    }
    -1L // unreachable
  }

  /** List the data files a just-finished Spark write left under `dir`
    * (hidden `_SUCCESS`/`.crc` excluded), as URIs for the manifest. */
  private def writtenFiles(s: SparkSession,
      dir: org.apache.hadoop.fs.Path): Seq[String] = {
    val fs = fsOf(s, dir)
    val it = fs.listFiles(dir, true)
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) buf += st.getPath.toString
    }
    buf.toSeq.sorted
  }

  /** Persist the table schema once (first append): the schema-ful
    * empty-result path ([[emptyLike]]) needs it when the live data set
    * is empty — a zoned read whose window prunes every file, a diff
    * with no added files, a table holding only delete entries. Written
    * RAW (no crc pairing) and only if absent; two racing first
    * appenders write identical bytes, benign. */
  private def persistSchema(s: SparkSession, root: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val raw = rawOf(fsOf(s, root))
    if (!raw.exists(schemaPtr(root))) writeSmall(raw, schemaPtr(root), schema.json)
  }

  /** Post-commit: widen `_schema.json` to include columns this append
    * added. BEST-EFFORT ONLY — this is a read-modify-write outside the
    * OCC loop, so two concurrent appends adding different columns can
    * last-writer-win and one widening is lost until the next evolution
    * re-widens. That is acceptable precisely because nothing decides
    * correctness from this file when a manifest exists: [[emptyLike]]
    * and the additive gate both fold the manifest's [[SchemaEntry]]
    * lines (committed inside OCC, race-free) first and fall back here
    * only for pre-upgrade manifests with no schema lines. */
  private def widenPersistedSchema(s: SparkSession,
      root: org.apache.hadoop.fs.Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val raw = rawOf(fsOf(s, root))
    if (!raw.exists(schemaPtr(root))) { persistSchema(s, root, schema); return }
    val cur = org.apache.spark.sql.types.DataType
      .fromJson(readSmall(raw, schemaPtr(root)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val widened = unionAdd(cur, schema)
    if (widened != cur)
      writeSmall(raw, schemaPtr(root), widened.json)
  }

  /** The persisted `_schema.json`, if any — the FALLBACK schema record
    * ([[emptyLike]], pre-upgrade union seeding); the manifest's
    * [[SchemaEntry]] fold stays the source of truth where one exists. */
  private def readPersistedSchema(s: SparkSession,
      root: org.apache.hadoop.fs.Path)
      : Option[org.apache.spark.sql.types.StructType] = {
    val raw = rawOf(fsOf(s, root))
    if (!raw.exists(schemaPtr(root))) None
    else scala.util.Try(org.apache.spark.sql.types.DataType
      .fromJson(readSmall(raw, schemaPtr(root)))
      .asInstanceOf[org.apache.spark.sql.types.StructType]).toOption
  }

  /** An EMPTY frame with the TABLE schema — what every no-rows path
    * returns, so downstream column references (orderBy, select) stay
    * resolvable. "Pruning is an optimization, never a correctness
    * gate" requires exactly this: a fully-pruned scan must be
    * indistinguishable from a scan that matched nothing. The schema
    * comes from the caller's manifest entry set ([[SchemaEntry]] fold
    * — the source of truth, immune to the persisted file's
    * best-effort read-modify-write widening), falling back to
    * `_schema.json` for pre-upgrade manifests and to a zero-column
    * frame only for a table that never committed anything. */
  private def emptyLike(s: SparkSession, root: org.apache.hadoop.fs.Path,
      entries: Seq[ManifestEntry] = Nil): DataFrame = {
    recordedUnionSchema(entries).orElse(readPersistedSchema(s, root)) match {
      case None => s.emptyDataFrame
      case Some(schema) => s.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }
  }

  /** Append `df` to a manifest table: write into a FRESH nonce'd
    * `data/a-<nonce>` subdir (immutable, never-reused names; no
    * version in the path — the sequence is assigned at COMMIT inside
    * the retry loop, so a retried append is ordered by the version it
    * actually landed at, not the stale one it first observed), then
    * commit old ++ new entries through the OCC loop — concurrent
    * appends interleave safely, no file set is ever lost (x150,
    * spec-asserted). Returns the committed version. */
  private[graft] def manifestAppend(s: SparkSession,
      root: org.apache.hadoop.fs.Path, df: DataFrame, shards: Int): Long = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/a-$nonce")
    df.repartition(shards).write.mode(SaveMode.Overwrite).parquet(w.toString)
    persistSchema(s, root, df.schema)
    val files = writtenFiles(s, w)
    // additive gate + schema line INSIDE the OCC closure: a retried
    // commit re-validates against the winner's entries, so the union
    // schema is race-free without any extra coordination
    val committed = commitWithRetry(s, root) { (old, v) =>
      old ++ validateAdditiveSchema(old, v, df.schema, readPersistedSchema(s, root)) ++
        files.map(f => DataFileEntry(v, f).line)
    }
    widenPersistedSchema(s, root, df.schema)
    committed
  }

  /** CLAIM-BASED append at EXACTLY version `v` — the one-winner
    * building block for multi-step builds (the x154 IVF lifecycle):
    * stage `df`, then claim `m-v.txt` via the same O_EXCL create
    * every commit uses, with NO retry loop. Two concurrent builders
    * that both observed the same state race for the claim; exactly
    * one wins, the loser's staged files are discarded and it returns
    * false — it must RE-READ the winner's table instead of appending
    * a duplicate copy (the check-then-commit window ADVICE r17
    * flagged: two opens that both saw `manifestExists == false` and
    * both trained would otherwise BOTH commit centroid sets). Also
    * returns false without staging when the observed version is not
    * `v - 1` (someone already committed past the target). */
  private[graft] def manifestAppendExactly(s: SparkSession,
      root: org.apache.hadoop.fs.Path, df: DataFrame, shards: Int,
      v: Long): Boolean = {
    val (cur, old) = currentManifest(s, root)
    if (cur != v - 1) return false
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/a-$nonce")
    df.repartition(shards).write.mode(SaveMode.Overwrite).parquet(w.toString)
    val files = writtenFiles(s, w)
    // `_schema.json` lands ONLY after a successful commit (mirroring
    // manifestAppend's post-commit widening) — a pre-claim write left
    // the file on tables that never committed, and emptyLike then
    // returned a TYPED empty frame for a never-committed table instead
    // of failing loudly, masking build races (ADVICE r18: the silent
    // empty-centroid window in the IVF lifecycle). Staged files are
    // reclaimed on EVERY failure path, not just a lost claim — a
    // SchemaEvolutionViolation used to strand the data/a-<nonce> dir.
    try {
      val lines = old ++
        validateAdditiveSchema(old, v, df.schema, readPersistedSchema(s, root)) ++
        files.map(f => DataFileEntry(v, f).line)
      manifestCommit(s, root, v, lines)
      widenPersistedSchema(s, root, df.schema)
      true
    } catch {
      case _: ManifestCommitConflict =>
        scala.util.Try(fsOf(s, root).delete(w, true))
        false
      case e: Throwable =>
        scala.util.Try(fsOf(s, root).delete(w, true))
        throw e
    }
  }

  /** Whether a manifest table has ever committed at `root` — the
    * open-or-build check an index lifecycle uses to avoid retraining
    * (x154): a committed table has a pointer or at least one complete
    * manifest body. */
  private[graft] def manifestExists(s: SparkSession,
      root: org.apache.hadoop.fs.Path): Boolean = {
    val fs = fsOf(s, root)
    fs.exists(currentPtr(root)) ||
      latestCompleteManifest(fs, root).isDefined
  }

  /** Read a manifest table: resolve the live file set once, scan it —
    * merge-aware ([[manifestReadMerged]]): live equality deletes
    * (x145) are applied; a delete-free table is a plain scan. */
  private[graft] def manifestRead(s: SparkSession,
      root: org.apache.hadoop.fs.Path): DataFrame =
    manifestReadMerged(s, root)

  /** File set of an ARBITRARY retained version — the time-travel
    * resolve. Same immutability argument as the live read: the manifest
    * named m-<v>.txt never changes after commit, so a version read is
    * exactly the file set that version committed, or a loud error if
    * the version fell out of the vacuum retention window. */
  private[graft] def manifestFilesAt(s: SparkSession,
      root: org.apache.hadoop.fs.Path, v: Long): Seq[String] = {
    val fs = fsOf(s, root)
    val p = new org.apache.hadoop.fs.Path(manifestRoot(root), s"m-$v.txt")
    require(fs.exists(p),
      s"manifest version $v not retained at $root (vacuumed or never committed)")
    val body = readSmall(fs, p)
    checkManifestFormat(body, s"$root m-$v.txt")
    body.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
  }

  /** Time-travel read: scan exactly the file set version `v` committed.
    * Usable for any version inside the vacuum retention window —
    * compaction does not break it (old versions keep referencing the
    * pre-compaction files, which vacuum retains while the version is
    * inside the window). */
  private[graft] def manifestReadAt(s: SparkSession,
      root: org.apache.hadoop.fs.Path, v: Long): DataFrame =
    // merge-aware: a version committed after an equality delete (x145)
    // carries delete entries — the snapshot applies them with the
    // same sequence rule as the live merged read
    mergedScan(s, root, parseEntries(manifestFilesAt(s, root, v)))

  /** Incremental consumption via manifest diff: scan ONLY the files
    * version `vTo` added relative to `vFrom` — the file-level CDC a
    * downstream pipeline uses to process appends without rescanning
    * the table (cost ∝ delta, not table size). NOTE the append-only
    * contract: across a COMPACTION boundary the added files are the
    * rewritten ones, whose rows the consumer has already seen — diff
    * consumers poll append versions (the caller knows its own commits);
    * Iceberg draws the same line (incremental scan over appends). */
  private[graft] def manifestReadDiff(s: SparkSession,
      root: org.apache.hadoop.fs.Path, vFrom: Long, vTo: Long): DataFrame = {
    val before = dataEntries(manifestFilesAt(s, root, vFrom)).map(_.uri).toSet
    // delete entries (x145) are NOT part of the append diff — the
    // documented contract is appends-only (the Iceberg line); deletes
    // reach consumers through the merged snapshot reads
    val toEntries = parseEntries(manifestFilesAt(s, root, vTo))
    val added = toEntries.collect { case e: DataFileEntry => e }
      .filterNot(e => before(e.uri))
    if (added.isEmpty) emptyLike(s, root, toEntries)
    // the diff can span several commits, and commits can differ by
    // added columns (x156): read ONE schema per commit group and
    // union by name — never one read over heterogeneous footers
    // (schema inference would null-fill whichever commit it didn't
    // sample, the same defect mergedScan guards against)
    else added.groupBy(_.seq).toSeq.sortBy(_._1)
      .map { case (_, es) => s.read.parquet(es.map(_.uri): _*) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  // ----- Equality deletes / merge-on-read (x145) ----------------------
  //
  // Deletes without rewriting data: a delete commit writes a small
  // parquet of KEY VALUES (its columns ARE the equality key — the
  // Iceberg v2 equality-delete convention) and registers it in the
  // manifest as a `delete:<uri>` line. Readers resolve `_current` once,
  // scan the data files, and anti-join delete frames — merge-on-read
  // costs broadcast anti-joins against key sets that are tiny relative
  // to the table, zero data bytes rewritten at delete time.
  // `manifestApplyDeletes` is the major compaction that folds deletes
  // back into data files when their count grows.
  //
  // SEQUENCE RULE (also Iceberg's): a delete applies ONLY to data
  // files committed strictly before it. Without this, re-inserting a
  // deleted key (every CDC upsert, x147) would be impossible — the old
  // delete would kill the new row. Sequence numbers are manifest-line
  // columns assigned at COMMIT inside the retry loop ([[commitWithRetry]]),
  // so a retried append/delete is ordered by the version it landed at;
  // [[mergedScan]] enforces the rule, and compaction folds applicable
  // deletes into rewritten files (whose rows land ABOVE existing
  // deletes).

  /** Sequence-aware merged scan over parsed entries: data files
    * grouped by commit sequence, each group anti-joined against
    * exactly the delete files committed AFTER it, groups unioned. One
    * group and no applicable deletes is a plain scan; delete key
    * frames are broadcast (small by contract). A data-empty entry set
    * (fresh table, all rows deleted then compacted) returns the
    * schema-ful empty — downstream column references must keep
    * resolving.
    *
    * DELETE-KEY GROUPING: delete files are read ONE KEY SCHEMA PER
    * READ, never mixed — grouped by key column NAMES AND TYPES. A
    * single `read.parquet(heterogeneous files)` lets schema inference
    * pick whichever footer it samples first and null-fill the rest —
    * an `extra`-keyed delete read under an `id`-only inferred schema
    * silently stops applying (rows the table claims deleted come
    * back) — and two deletes keyed on the SAME name across a lossless
    * widening (int n, then long n) mix int32/int64 footers, whose
    * inference nondeterministically fails or coerces. Key schemas
    * come from the manifest ([[DeleteFileEntry.keySchemaJson]],
    * recorded at commit) and are passed EXPLICITLY to the read, so
    * inference never runs; a legacy entry without a recorded schema
    * resolves from its own footer, per file. A key column absent from
    * a generation's schema still fails LOUDLY at analysis (the
    * USING-join cannot resolve it) — deterministically, independent
    * of footer sampling order. */
  private def mergedScan(s: SparkSession, root: org.apache.hadoop.fs.Path,
      entries: Seq[ManifestEntry]): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructType}
    val data = entries.collect { case e: DataFileEntry => e }
    val dels = entries.collect { case e: DeleteFileEntry => e }
    if (data.isEmpty) return emptyLike(s, root, entries)
    // (key schema -> delete entries) in deterministic key order; the
    // footer fallback reads ONE file's schema (control-plane, tiny).
    // Nullability is normalized out of the group key and the read
    // schema (two commits of the same key may disagree on it; parquet
    // reads are null-tolerant either way).
    def keySchemaOf(d: DeleteFileEntry): StructType = {
      val raw = d.keySchemaJson match {
        case Some(j) => DataType.fromJson(j).asInstanceOf[StructType]
        case None =>
          val footer = graft.Tables.readParquet(s, d.uri).schema
          val names = if (d.keys.nonEmpty) d.keys else footer.fieldNames.toSeq
          StructType(names.map(n => footer(n)))
      }
      StructType(raw.fields.map(_.copy(nullable = true)))
    }
    val delByKey: Seq[(StructType, Seq[DeleteFileEntry])] =
      dels.map(d => (keySchemaOf(d), d))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq
        .sortBy(_._1.catalogString)
    val groups = data.groupBy(_.seq).toSeq.sortBy(_._1).map {
      case (v, es) =>
        val base = s.read.parquet(es.map(_.uri): _*)
        delByKey.foldLeft(base) { case (acc, (keySchema, kdels)) =>
          val applicable = kdels.filter(_.seq > v).map(_.uri)
          if (applicable.isEmpty) acc
          else {
            // files in one group share the key schema by construction,
            // and the read gets it EXPLICITLY — no inference, in
            // recorded key order. If a key column is missing from
            // this generation the join raises the analysis error —
            // the delete-key contract under evolution (EtlSpec:744).
            val key = keySchema.fieldNames.toSeq
            val keys = s.read.schema(keySchema).parquet(applicable: _*)
            // int/long etc. across a widening: the USING-join equality
            // coerces both sides to the wider type, exact for the
            // lossless promotion set the evolution gate admits
            acc.join(org.apache.spark.sql.functions.broadcast(keys),
              key, "left_anti")
          }
        }
    }
    // allowMissingColumns = additive schema evolution (x156): a later
    // commit may carry columns earlier commits lack — older rows read
    // them as NULL, the Iceberg add-column contract. Reconciliation is
    // plan-time only (files within one commit share a schema; the union
    // aligns by name across commits) — no data file is ever rewritten.
    // Non-additive drift cannot reach here: [[validateAdditiveSchema]]
    // rejects it at append-commit time.
    groups.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Commit an equality delete: write `keys` (columns = the equality
    * key) as an immutable delete file set under a nonce'd `data/del-*`
    * dir, commit old entries ++ the new delete entries at the COMMIT
    * sequence. No data file is touched. Returns the committed version. */
  private[graft] def manifestDelete(s: SparkSession,
      root: org.apache.hadoop.fs.Path, keys: DataFrame): Long = {
    // single-writer by contract w.r.t. OTHER deletes/maintenance (the
    // CDC stream is one writer); the retry loop protects against
    // interleaved appends — and because the sequence is assigned at
    // commit, an append that wins a race against this delete keeps its
    // higher sequence and stays immune, in either retry order
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/del-$nonce")
    keys.coalesce(1).write.mode(SaveMode.Overwrite).parquet(w.toString)
    val files = writtenFiles(s, w)
    // the key COLUMN SET and its SCHEMA ride the manifest line so
    // readers can group heterogeneous delete files by (names, types)
    // and read each group with an explicit schema (see [[mergedScan]])
    val keyCols = keys.columns.toSeq
    require(keyCols.forall(c => !c.contains(",") && !c.contains("\t")),
      "delete-key column names must not contain ','/tab (manifest format)")
    val keyJson = deleteKeySchemaJson(keys)
    commitWithRetry(s, root) { (old, v) =>
      old ++ files.map(f => DeleteFileEntry(v, f, keyCols, keyJson).line)
    }
  }

  /** Compact key-schema JSON for a delete/merge commit's manifest
    * line. StructType.json escapes control characters inside strings,
    * so the one-line tab-separated manifest format is safe as long as
    * the names themselves are (already required). */
  private def deleteKeySchemaJson(keys: DataFrame): Option[String] = {
    val j = keys.schema.json
    require(!j.contains("\t") && !j.contains("\n"),
      "delete-key schema JSON must be tab/newline-free (manifest format)")
    Some(j)
  }

  /** Merge-on-read: the sequence-aware [[mergedScan]] over the live
    * entry set — each data-version group anti-joins only the delete
    * frames committed after it (broadcast; a table whose deletes
    * outgrew broadcast is due for [[manifestApplyDeletes]]). No
    * deletes → plain scan. */
  private[graft] def manifestReadMerged(s: SparkSession,
      root: org.apache.hadoop.fs.Path): DataFrame = {
    val (_, lines) = currentManifest(s, root)
    mergedScan(s, root, parseEntries(lines))
  }

  /** Major compaction for deletes: rewrite the merged view (as
    * observed at version v) into fresh data files and commit WITHOUT
    * the folded delete entries (old data and delete files stay for
    * retained versions until vacuum). Read results are identical
    * before/after (spec-asserted); what changes is that readers stop
    * paying the anti-join. Concurrent APPENDS that land during the
    * rewrite pass through untouched (their sequence is above every
    * folded delete); concurrent deletes are single-writer by contract.
    * No-op on a table with no deletes. Returns the committed version
    * (or the current one on no-op). */
  private[graft] def manifestApplyDeletes(s: SparkSession,
      root: org.apache.hadoop.fs.Path, shards: Int): Long = {
    val (v, lines) = currentManifest(s, root)
    val observed = parseEntries(lines)
    if (!observed.exists(_.isInstanceOf[DeleteFileEntry])) return v
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/c-$nonce")
    mergedScan(s, root, observed).repartition(shards)
      .write.mode(SaveMode.Overwrite).parquet(w.toString)
    val files = writtenFiles(s, w)
    val observedData = observed.collect { case e: DataFileEntry => e.uri }.toSet
    commitWithRetry(s, root) { (old, nv) =>
      val oldEntries = parseEntries(old)
      // kept data-file URI set computed ONCE, then zone entries tested
      // against it — not an exists() re-parse of the whole manifest
      // per zone line
      val keptData = oldEntries.collect {
        case e: DataFileEntry if e.seq > v && !observedData(e.uri) => e
      }
      val keptUris = keptData.map(_.uri).toSet
      val keep = oldEntries.filter {
        case e: DataFileEntry       => keptUris(e.uri)
        case e: DeleteFileEntry     => e.seq > v
        case ZoneStatEntry(u, _, _) => keptUris(u) // zones follow their file
        case _: SchemaEntry         => true // schema history survives folding
      }
      keep.map(_.line) ++ files.map(f => DataFileEntry(nv, f).line)
    }
  }

  // ----- Zone-map file skipping (x148) --------------------------------
  //
  // Data skipping is THE 100-TB scan lever: a range predicate should
  // decide from METADATA which files can possibly match and open only
  // those. Production formats read parquet footer min/max; here the
  // append records per-file zones as [[ZoneStatEntry]] manifest lines,
  // committed ATOMICALLY with the data files they describe — a reader
  // either resolves a manifest with both the files and their zones, or
  // neither; there is no sidecar to catch mid-write, and planning a
  // pruned scan reads the one manifest it already had to read. Files
  // without recorded zones (e.g. rows from a plain append) are always
  // scanned — pruning is an optimization, never a correctness gate.

  /** Append with per-file zone stats on long column `statCol`: rows
    * range-partition on the column (tight, disjoint zones), one
    * metadata pass records each written file's min/max, and data +
    * zone entries commit as ONE manifest version. The stats collect is
    * a control frame — one row per written FILE. */
  private[graft] def manifestAppendZoned(s: SparkSession,
      root: org.apache.hadoop.fs.Path, df: DataFrame, shards: Int,
      statCol: String): Long = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/az-$nonce")
    df.repartitionByRange(shards, col(statCol))
      .write.mode(SaveMode.Overwrite).parquet(w.toString)
    persistSchema(s, root, df.schema)
    val zones: Map[String, (Long, Long)] = s.read.parquet(w.toString)
      .groupBy(input_file_name().as("f"))
      .agg(min(col(statCol)).cast("long").as("lo"),
           max(col(statCol)).cast("long").as("hi"))
      .collect()
      .map { r => // normalize to the FileSystem URI form the manifest uses
        val p = new org.apache.hadoop.fs.Path(
          new java.net.URI(r.getString(0))).toString
        p -> (r.getLong(1), r.getLong(2))
      }.toMap
    val files = writtenFiles(s, w)
    val committed = commitWithRetry(s, root) { (old, v) =>
      old ++ validateAdditiveSchema(old, v, df.schema, readPersistedSchema(s, root)) ++
        files.map(f => DataFileEntry(v, f).line) ++
        files.flatMap(f => zones.get(f).map {
          case (lo, hi) => ZoneStatEntry(f, lo, hi).line
        })
    }
    widenPersistedSchema(s, root, df.schema)
    committed
  }

  /** The live data files a `[lo, hi]` range predicate on the zoned
    * column can possibly touch, plus the total — the skipping decision
    * itself, from the manifest's zone entries only. Unzoned files
    * always pass. (Zoned reads are data-file-level: the zoned tables
    * are append-only by contract — equality deletes route through
    * [[manifestReadMerged]].) */
  private[graft] def zonePrunedFiles(s: SparkSession,
      root: org.apache.hadoop.fs.Path, lo: Long, hi: Long): (Seq[String], Int) = {
    val (_, lines) = currentManifest(s, root)
    val entries = parseEntries(lines)
    val data = entries.collect { case e: DataFileEntry => e.uri }
    val zones: Map[String, (Long, Long)] = entries.collect {
      case ZoneStatEntry(u, zl, zh) => u -> (zl, zh)
    }.toMap
    val kept = data.filter(f =>
      zones.get(f).forall { case (zl, zh) => zh >= lo && zl <= hi })
    (kept, data.length)
  }

  /** Zone-pruned range scan: open only the files whose zones intersect
    * the predicate, then apply the row-level filter (pruning skips
    * files, the filter still decides rows — pushed to the parquet
    * reader as usual). A fully-pruned window returns the schema-ful
    * empty so downstream column references keep resolving. */
  private[graft] def manifestReadZoned(s: SparkSession,
      root: org.apache.hadoop.fs.Path, statCol: String,
      lo: Long, hi: Long): DataFrame = {
    val (_, lines) = currentManifest(s, root)
    val entries = parseEntries(lines)
    val zones: Map[String, (Long, Long)] = entries.collect {
      case ZoneStatEntry(u, zl, zh) => u -> (zl, zh)
    }.toMap
    val kept = entries.collect { case e: DataFileEntry => e }
      .filter(e => zones.get(e.uri).forall { case (zl, zh) => zh >= lo && zl <= hi })
    if (kept.isEmpty) return emptyLike(s, root, entries)
    // per-commit reads + union by name: surviving files can span
    // schema generations (x156); one read across heterogeneous
    // footers would nondeterministically null-fill — same guard as
    // mergedScan/manifestReadDiff
    kept.groupBy(_.seq).toSeq.sortBy(_._1)
      .map { case (_, es) => s.read.parquet(es.map(_.uri): _*) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .filter(col(statCol) >= lo && col(statCol) <= hi)
  }

  /** x148 driver query: the documents table appended with doc_id
    * zones (16 range shards), then a range read that PLANS from the
    * sidecar — at 16 shards the [100, 199] window opens ~1-2 files
    * instead of 16 (spec-asserted); the oracle proves the pruned scan
    * loses and invents nothing. */
  def zoneMapPrunedRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_zone", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppendZoned(s, root, docs, 16, "doc_id")
    manifestReadZoned(s, root, "doc_id", 100L, 199L).orderBy("doc_id")
  }

  /** x150 driver query: writer atomicity under contention — 8
    * concurrent appenders, each committing a disjoint slice through
    * the OCC retry loop. Every slice must land (the exclusive manifest
    * create makes lost updates impossible; losers re-derive from the
    * winner's entry set and retry), so the final read is the whole
    * table — the identity oracle IS the no-lost-update check. Thread
    * failures rethrow loudly rather than shrinking the result. */
  def concurrentAppendStorm(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_occ", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = (0 until 8).map { i =>
      val t = new Thread(() => {
        try {
          manifestAppend(s, root,
            docs.filter(pmod(col("doc_id"), lit(8L)) === i), 1)
          ()
        } catch { case e: Throwable => failures.add(e); () }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    if (!failures.isEmpty) throw failures.peek()
    manifestRead(s, root).orderBy("doc_id")
  }

  /** x149 driver query: incremental materialized-view maintenance of
    * an inverted index. The base index builds once from the v1
    * snapshot; when v2 appends land, ONLY the diff files are
    * tokenized (cost ∝ delta, the x135 CDC loop) and the partial
    * index FOLDS in — valid because appends carry disjoint doc sets,
    * so df and tf both merge by SUM (the x83/x105 algebra). The
    * oracle rebuilds the whole index from scratch: fold ≡ rebuild is
    * the maintenance contract. Top-k cut via orderBy+limit
    * (TakeOrderedAndProject), rank attached on the 200-row frame. */
  def incrementalIndexMaintenance(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_idx", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val v1 = manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    val v2 = manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 4)
    def indexOf(df: DataFrame): DataFrame = df
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
      .filter(length(col("token")) > 0)
      .groupBy("token", "doc_id").agg(count(lit(1)).cast("long").as("tf"))
      .groupBy("token").agg(count(lit(1)).cast("long").as("n_docs"),
        sum("tf").cast("long").as("total_tf"))
    val folded = indexOf(manifestReadAt(s, root, v1))
      .unionByName(indexOf(manifestReadDiff(s, root, v1, v2)))
      .groupBy("token").agg(sum("n_docs").cast("long").as("n_docs"),
        sum("total_tf").cast("long").as("total_tf"))
    val top = folded
      .orderBy(col("total_tf").desc, col("token")).limit(200)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("total_tf").desc, col("token"))
    top.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("token"), col("n_docs"), col("total_tf"))
      .orderBy("rank")
  }

  /** Incremental small-files compaction over the MANIFEST layout — the
    * object-store-ready sibling of [[compactSmallFiles]]:
    *   1. resolve the live file set, split at `smallFloorBytes`;
    *   2. <2 smalls → no-op (repeated runs converge, spec-asserted);
    *   3. rewrite ONLY the small files into `data/w-<v+1>` (bounded
    *      write amplification, same argument as x130);
    *   4. commit compliant ++ rewritten as version v+1 — the compliant
    *      files are RE-POINTED, not linked or copied: zero bytes moved,
    *      works on any FileSystem scheme;
    *   5. old small files stay on disk for readers of version v until
    *      [[manifestVacuum]] reclaims them — reader atomicity is never
    *      traded for space.
    * `beforeCommit` lets the spec interpose a concurrent reader between
    * the rewrite and the pointer swap, proving mid-compaction reads
    * resolve to exactly the old version. Returns files written (0 =
    * no-op). */
  private[graft] def manifestCompactSmallFiles(s: SparkSession,
      root: org.apache.hadoop.fs.Path, targetFileBytes: Long,
      smallFloorBytes: Long, beforeCommit: () => Unit = () => ()): Int = {
    val fs = fsOf(s, root)
    val (v, lines) = currentManifest(s, root)
    val entries = parseEntries(lines)
    // delete entries pass through untouched — size-compaction only
    // reshapes DATA files; folding deletes in is manifestApplyDeletes'
    // job, and the two maintenance passes compose in either order
    val dels = entries.collect { case e: DeleteFileEntry => e }
    val zones = entries.collect { case z: ZoneStatEntry => z }
    val schemas = entries.collect { case e: SchemaEntry => e }
    val sized = entries.collect { case e: DataFileEntry => e }.map(e => (e,
      fs.getFileStatus(new org.apache.hadoop.fs.Path(e.uri)).getLen))
    val (smalls, compliant) = sized.partition(_._2 < smallFloorBytes)
    if (smalls.length < 2) return 0
    val smallBytes = smalls.map(_._2).sum
    val n = math.max(1L,
      (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val w = new org.apache.hadoop.fs.Path(root, s"data/sc-$nonce")
    // the rewrite APPLIES each small file's applicable deletes (the
    // Iceberg compaction rule): the rewritten rows land at sequence
    // v+1, above every existing delete, so without folding the deletes
    // in here a deleted row would escape its delete by being rewritten
    mergedScan(s, root, smalls.map(_._1) ++ dels)
      .repartition(n)
      .write.mode(SaveMode.Overwrite).parquet(w.toString)
    beforeCommit()
    // compliant entries keep their ORIGINAL lines (same sequence, so
    // existing deletes still apply to them); zone entries follow their
    // surviving file — rewritten output carries no zones (always
    // scanned, the safe direction)
    val compliantUris = compliant.map(_._1.uri).toSet
    manifestCommit(s, root, v + 1,
      compliant.map(_._1.line) ++
        writtenFiles(s, w).map(f => DataFileEntry(v + 1, f).line) ++
        dels.map(_.line) ++
        zones.filter(z => compliantUris(z.uri)).map(_.line) ++
        schemas.map(_.line)) // schema history survives size compaction
    n
  }

  /** Reclaim files outside the retention window: keep the last
    * `retainVersions` manifests (so time-travel reads and in-flight
    * diff consumers inside the window stay valid — in a multi-reader
    * deployment this is the grace period) and every data/delete file
    * any SURVIVING manifest references; delete the rest.
    * retainVersions = 1 keeps the live version only.
    *
    * Two safety rules against concurrent writers (vacuum is NOT
    * single-writer w.r.t. appends):
    *  - NEVER touch a version above the observed live `v` — that is a
    *    commit racing this vacuum (complete body, swap in flight) or a
    *    live claim mid-write; reclaiming abandoned claims is the
    *    commit-path janitor's job, gated on [[ClaimGraceMs]].
    *  - An unreferenced data file younger than `graceMs` is kept: a
    *    racing appender writes its files BEFORE its commit lands, so
    *    "unreferenced" alone cannot distinguish garbage from a commit
    *    about to happen (the same mtime grace Delta's vacuum uses).
    * Returns files deleted. */
  private[graft] def manifestVacuum(s: SparkSession,
      root: org.apache.hadoop.fs.Path, retainVersions: Int = 1,
      graceMs: Long = ClaimGraceMs): Int = {
    val fs = fsOf(s, root)
    val (v, _) = currentManifest(s, root)
    val floor = math.max(1L, v - retainVersions + 1)
    var removed = 0
    // 1) sweep manifests strictly BELOW the window; versions > v are
    //    untouchable (racing commit / live claim)
    val mdir = manifestRoot(root)
    if (fs.exists(mdir)) fs.listStatus(mdir).foreach { st =>
      val name = st.getPath.getName
      val ver =
        if (name.startsWith("m-") || name.startsWith("s-"))
          name.drop(2).stripSuffix(".txt").toLongOption
        else None
      if (ver.exists(n => n < floor)) { fs.delete(st.getPath, false); removed += 1 }
    }
    // 2) keep-set from EVERY manifest still present — the retained
    //    window AND anything newer than v that committed (or is being
    //    committed) while we ran
    val keep: Set[String] =
      if (!fs.exists(mdir)) Set.empty
      else fs.listStatus(mdir).toSeq
        .filter(_.getPath.getName.matches("m-\\d+\\.txt"))
        .flatMap { st =>
          try parseEntries(readSmall(fs, st.getPath).linesIterator
            .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq)
            .collect {
              case e: DataFileEntry   => e.uri
              case e: DeleteFileEntry => e.uri
            }
          catch { case _: java.io.IOException => Seq.empty[String] }
        }.toSet
    // 3) delete unreferenced data files older than the grace window
    val now = System.currentTimeMillis()
    val dataDir = new org.apache.hadoop.fs.Path(root, "data")
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        if (!keep(st.getPath.toString) &&
            now - st.getModificationTime > graceMs) {
          fs.delete(st.getPath, false); removed += 1
        }
      }
    }
    removed
  }

  /** Roll the live table back to retained version `v` AS A NEW COMMIT
    * — the Iceberg rollback semantic: the restored version's entry set
    * is re-committed at the next version through the OCC loop, so
    * history stays append-only (the bad versions remain readable
    * inside the retention window until vacuum; nothing is deleted by
    * the restore itself) and readers switch atomically at the pointer
    * swap. Restore REPLACES the live entry set, so an append that
    * lands between the restore's observation of the live version and
    * its claim would be silently excluded from the restored line — a
    * lost update the retry loop cannot repair (retrying would just
    * overwrite the newer state again). The restore therefore fails
    * LOUDLY if the live version advanced past the one observed at
    * call time; the caller quiesces appenders (the delete/maintenance
    * single-writer contract) or re-observes and decides afresh. Entry
    * SEQUENCE NUMBERS are preserved verbatim: restored data files keep
    * their original delete-applicability ordering. Returns the
    * committed version. */
  private[graft] def manifestRestore(s: SparkSession,
      root: org.apache.hadoop.fs.Path, v: Long): Long = {
    val (observed, _) = currentManifest(s, root)
    manifestRestoreFrom(s, root, v, observed)
  }

  /** [[manifestRestore]] with the observation pinned — the deterministic
    * seam the guard spec drives (a real interleaving window is a few
    * µs wide): pass a stale `observed` and the restore must refuse. */
  private[graft] def manifestRestoreFrom(s: SparkSession,
      root: org.apache.hadoop.fs.Path, v: Long, observed: Long): Long = {
    val lines = manifestFilesAt(s, root, v)
    commitWithRetry(s, root) { (_, claiming) =>
      // claiming == live+1 inside the loop; anything past observed+1
      // means a concurrent commit won and would be wiped by this line.
      if (claiming != observed + 1) throw new IllegalStateException(
        s"manifestRestore: live version advanced to ${claiming - 1} past " +
          s"observed v$observed — a concurrent commit landed; quiesce " +
          "writers or re-observe before restoring")
      lines
    }
  }

  /** x151 driver query: append a good batch (v1), append a bad batch
    * (v2), roll back to v1 (v3 = v1's entry set, a NEW commit) — the
    * bad-load undo every production table format ships. The oracle is
    * the good batch exactly; the spec proves the history contract
    * (v2 stays time-travel-readable after the restore, and a windowed
    * vacuum reclaims it). */
  def manifestRestoreRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_restore", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 4)
    manifestRestore(s, root, 1L)
    manifestRead(s, root).orderBy("doc_id")
  }

  /** Row-level MERGE (upsert) as ONE commit: the update set's key
    * frame lands as a DeleteFileEntry and its full rows as
    * DataFileEntries, both at the SAME committed version. The sequence
    * rule makes this exactly MERGE semantics with zero special-casing:
    * a delete applies only to data committed STRICTLY BEFORE it
    * ([[mergedScan]] `dels.filter(_.seq > v)`), so the old rows die
    * and the same-commit replacements survive. Contrast the naive
    * delete-then-append pair, which exposes a mid-state (keys deleted,
    * replacements not yet visible) to any reader between the two
    * pointer swaps — the single commit makes the upsert atomic
    * (spec-asserted by a racing reader). `keyCols` is the equality
    * key; the rest of the update row replaces the matched row. */
  private[graft] def manifestMerge(s: SparkSession,
      root: org.apache.hadoop.fs.Path, updates: DataFrame,
      keyCols: Seq[String], shards: Int): Long = {
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val wk = new org.apache.hadoop.fs.Path(root, s"data/mk-$nonce")
    val wd = new org.apache.hadoop.fs.Path(root, s"data/md-$nonce")
    updates.select(keyCols.map(col): _*)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(wk.toString)
    updates.repartition(shards)
      .write.mode(SaveMode.Overwrite).parquet(wd.toString)
    persistSchema(s, root, updates.schema)
    val delFiles = writtenFiles(s, wk)
    val dataFiles = writtenFiles(s, wd)
    require(keyCols.forall(c => !c.contains(",") && !c.contains("\t")),
      "merge-key column names must not contain ','/tab (manifest format)")
    val keyJson = deleteKeySchemaJson(updates.select(keyCols.map(col): _*))
    val committed = commitWithRetry(s, root) { (old, v) =>
      old ++ validateAdditiveSchema(old, v, updates.schema, readPersistedSchema(s, root)) ++
        delFiles.map(f => DeleteFileEntry(v, f, keyCols, keyJson).line) ++
        dataFiles.map(f => DataFileEntry(v, f).line)
    }
    // a merge that adds columns must widen the persisted fallback
    // schema like any append — without this, [[emptyLike]]'s
    // _schema.json fallback (fresh-session reads of an all-pruned or
    // all-deleted table) misses merge-added columns
    widenPersistedSchema(s, root, updates.schema)
    committed
  }

  /** x153 driver query: MERGE every doc_id divisible by 5 into the
    * table with a marker source — one atomic commit, merged read back.
    * The oracle is the row-level CASE the merge expresses. */
  def manifestMergeRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_merge", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs, 4)
    val updates = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
      .withColumn("source", lit("MERGED"))
    manifestMerge(s, root, updates, Seq("doc_id"), 2)
    manifestReadMerged(s, root).orderBy("doc_id")
  }

  /** History introspection over a manifest table — the `snapshots`
    * metadata relation every production table format exposes: one row
    * per RETAINED version with its entry-type counts, read from the
    * immutable manifests only (no data file is opened; cost is
    * O(retained versions), driver-side by design like any metadata
    * table). */
  private[graft] def manifestHistory(s: SparkSession,
      root: org.apache.hadoop.fs.Path): DataFrame = {
    val fs = fsOf(s, root)
    val (live, _) = currentManifest(s, root)
    val rows = (1L to live).flatMap { v =>
      val p = new org.apache.hadoop.fs.Path(manifestRoot(root), s"m-$v.txt")
      if (!fs.exists(p)) None // vacuumed out of the window
      else {
        val es = parseEntries(manifestFilesAt(s, root, v))
        Some((v,
          es.count(_.isInstanceOf[DataFileEntry]).toLong,
          es.count(_.isInstanceOf[DeleteFileEntry]).toLong,
          es.count(_.isInstanceOf[ZoneStatEntry]).toLong))
      }
    }
    import s.implicits._
    rows.toDF("version", "n_data_files", "n_delete_files", "n_zone_entries")
  }

  /** x152 driver query: the snapshot log of a table that lived a full
    * life — good append (v1), 4-shard append (v2), equality delete
    * (v3), rollback to v1 (v4) — exact entry-type counts per version.
    * Every count is deterministic (fixed shard counts, coalesce(1)
    * delete files, restore re-commits v1's set), so the oracle is the
    * literal expected history. */
  def manifestHistoryRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_hist", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 4)
    manifestDelete(s, root,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"))
    manifestRestore(s, root, 1L)
    manifestHistory(s, root).orderBy("version")
  }

  /** x132 driver query: the x130 fixture (one compliant file carrying
    * ~90% of the rows + a 48-file append shower) built ON the manifest
    * layout, compacted with the reader-atomic pass, vacuumed, and read
    * back through the manifest. Identity oracle proves content; the
    * spec proves the atomicity contract (mid-compaction reader sees
    * exactly the old set, post-commit exactly the new, vacuum leaves
    * only live files). */
  def manifestCompactionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 48)
    manifestCompactSmallFiles(s, root,
      targetFileBytes = 512L * 1024 * 1024, smallFloorBytes = 8192L)
    manifestVacuum(s, root)
    manifestRead(s, root).orderBy("doc_id")
  }

  /** x134 driver query: time travel over the manifest layout. Build
    * v1 (90% of rows) → v2 (the rest) → v3 (compaction) → vacuum with
    * a 3-version retention window, then read AT VERSION 1 — the
    * as-of-commit snapshot a debugging/repro pass needs. Proves both
    * halves of the retention contract: compaction did not disturb the
    * old version's file set, and vacuum kept every file the window
    * still references. Identity oracle = exactly the v1 subset. */
  def manifestTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_tt", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 48)
    manifestCompactSmallFiles(s, root,
      targetFileBytes = 512L * 1024 * 1024, smallFloorBytes = 8192L)
    manifestVacuum(s, root, retainVersions = 3)
    manifestReadAt(s, root, 1L).orderBy("doc_id")
  }

  /** x156 driver query: ADDITIVE SCHEMA EVOLUTION on the manifest
    * table — the Iceberg add-column contract on this layout. A table
    * written over months grows columns; commit 1 lands WITHOUT
    * `n_chars`, commit 2 lands WITH it, and the merged read surfaces
    * the union schema with the old generation's rows reading NULL —
    * zero files rewritten ([[mergedScan]]'s allowMissingColumns
    * union; reconciliation is plan-time only). An equality delete on
    * `doc_id` then proves evolution composes with merge-on-read: the
    * key column exists in every generation, so one delete commit
    * prunes rows across BOTH schemas. Time travel to v1 still reads
    * the ORIGINAL four-column schema (spec-asserted) — old snapshots
    * never grow columns retroactively.
    *
    * Delete-key contract under evolution: an equality delete applies
    * per data-version group, so its key columns must exist in EVERY
    * generation it covers — a delete keyed on a post-evolution column
    * fails the read loudly at analysis (spec-asserted), never silently
    * skips the old generation. Delete on an always-present key (here
    * doc_id) or compact first. */
  def manifestSchemaEvolutionRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_evo", dir)
    val docs = graft.Tables.load(s, dir, "documents")
    manifestAppend(s, root,
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source")), 1)
    manifestAppend(s, root,
      docs.filter(pmod(col("doc_id"), lit(10L)) === 0)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars")), 4)
    manifestDelete(s, root,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select(col("doc_id")))
    manifestRead(s, root).orderBy("doc_id")
  }

  /** x135 driver query: incremental consumption via manifest diff.
    * Same two appends; the consumer saw v1 and polls at v2 — the diff
    * read scans ONLY the files v2 added, so the result is exactly the
    * second append's rows and the scan cost is the delta, not the
    * table (the file-level CDC loop every downstream training-data
    * pipeline runs against its upstream table). */
  def manifestDiffRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_cdc", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0), 1)
    manifestAppend(s, root, docs.filter(pmod(col("doc_id"), lit(10L)) === 0), 48)
    manifestReadDiff(s, root, 1L, 2L).orderBy("doc_id")
  }

  /** x145 driver query: equality-delete merge-on-read. Append the full
    * documents table, commit two equality deletes (doc_id keys — zero
    * data bytes rewritten), and read merged: the live view is the base
    * scan minus one broadcast anti-join against the tiny accumulated
    * key frames. Oracle = exactly the surviving predicate; the spec
    * proves the maintenance contract (applyDeletes folds the deletes
    * into fresh files with an IDENTICAL read result and drops the
    * delete entries; size-compaction carries delete entries through;
    * time travel to the pre-delete version still sees every row). */
  def manifestEqualityDeleteRead(s: SparkSession, dir: String): DataFrame = {
    val root = nonceRoot("manifest_mor", dir)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    manifestAppend(s, root, docs, 8)
    manifestDelete(s, root,
      docs.filter(pmod(col("doc_id"), lit(7L)) === 3).select("doc_id"))
    manifestDelete(s, root,
      docs.filter(pmod(col("doc_id"), lit(11L)) === 5).select("doc_id"))
    manifestReadMerged(s, root).orderBy("doc_id")
  }

  /** Driver query: fragment the documents table into 64 shard files
    * (the incremental-append aftermath), compact back to the target
    * size, and return the compacted table — a lossless layout
    * round-trip under the identity oracle, same gate pattern as
    * x70/x85. */
  def compactionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val frag = java.nio.file.Paths.get(nonceRoot("compact", dir).toUri)
    graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      .repartition(64)
      .write.mode(SaveMode.Overwrite).parquet(frag.toString)
    compactParquetDir(s, frag, targetFileBytes = 512L * 1024 * 1024)
    s.read.parquet(frag.toString).orderBy("doc_id")
  }

  /** x130 driver query: build the steady-state layout an append-heavy
    * table actually has — one compliant file carrying ~90% of the rows
    * plus a 48-file shower of tiny appends — then run the INCREMENTAL
    * pass. The identity oracle proves content; the spec proves the
    * layout contract (compliant file's name survives, small names are
    * gone, and a second pass is a no-op). */
  def incrementalCompactionRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val frag = java.nio.file.Paths.get(nonceRoot("compact_incr", dir).toUri)
    val docs = graft.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
    docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(frag.toString)
    docs.filter(pmod(col("doc_id"), lit(10L)) === 0).repartition(48)
      .write.mode(SaveMode.Append).parquet(frag.toString)
    compactSmallFiles(s, frag,
      targetFileBytes = 512L * 1024 * 1024, smallFloorBytes = 8192L)
    s.read.parquet(frag.toString).orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x151_manifest_restore" -> manifestRestoreRead,
    "x152_manifest_history" -> manifestHistoryRead,
    "x153_manifest_merge" -> manifestMergeRead,
    "x156_manifest_schema_evolution" -> manifestSchemaEvolutionRead,
    "x132_manifest_compaction" -> manifestCompactionRoundtrip,
    "x134_manifest_time_travel" -> manifestTimeTravel,
    "x135_manifest_diff_read" -> manifestDiffRead,
    "x145_equality_delete_read" -> manifestEqualityDeleteRead,
    "x148_zone_pruned_read" -> zoneMapPrunedRead,
    "x149_incremental_index" -> incrementalIndexMaintenance,
    "x150_concurrent_appends" -> concurrentAppendStorm,
    "x130_compaction_incremental" -> incrementalCompactionRoundtrip,
    "x127_compaction_roundtrip" -> compactionRoundtrip,
    "x121_publish_audit" -> publishAuditExport,
    "x120_bucketed_join" -> bucketedJoinRollup,
    "x95_schema_evolution" -> schemaEvolutionRoundtrip,
    "x70_jsonl_roundtrip" -> jsonlRoundtrip,
    "x85_orc_roundtrip" -> orcRoundtrip)

  val oracles: Map[String, String] = Map(
    // additive evolution: rows from the pre-evolution commit read the
    // new column as NULL; the delete prunes across both generations
    "x156_manifest_schema_evolution" -> """
      SELECT doc_id, text, lang, source,
        CASE WHEN doc_id % 10 = 0 THEN n_chars ELSE NULL END AS n_chars
      FROM documents WHERE doc_id % 7 <> 3 ORDER BY doc_id""",
    // MERGE = the row-level CASE: matched keys get the update row,
    // the rest keep the original
    "x153_manifest_merge" -> """
      SELECT doc_id, text, lang,
        CASE WHEN doc_id % 5 = 0 THEN 'MERGED' ELSE source END AS source,
        n_chars
      FROM documents ORDER BY doc_id""",
    // the deterministic fixture's literal snapshot log: v1 one file,
    // v2 adds 4 shards, v3 adds one delete file, v4 re-commits v1's set
    "x152_manifest_history" -> """
      SELECT * FROM (VALUES
        (CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(2 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(3 AS BIGINT), CAST(5 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT)),
        (CAST(4 AS BIGINT), CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)))
        AS t(version, n_data_files, n_delete_files, n_zone_entries)
      ORDER BY version""",
    // rollback to v1 = exactly the good (first) batch
    "x151_manifest_restore" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 <> 0 ORDER BY doc_id""",
    // compaction is pure layout: the compacted table must be
    // content-identical to the source — identity oracle, like x70/x85
    "x127_compaction_roundtrip" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""",
    // incremental compaction is pure layout too — identity oracle
    "x130_compaction_incremental" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""",
    // manifest-indirection compaction is pure layout — identity oracle
    "x132_manifest_compaction" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""",
    // time travel at v1 = exactly the first append's subset
    "x134_manifest_time_travel" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 <> 0 ORDER BY doc_id""",
    // the v1->v2 diff scan = exactly the second append's subset
    "x135_manifest_diff_read" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 10 = 0 ORDER BY doc_id""",
    // merge-on-read = base minus both equality-delete key sets
    "x145_equality_delete_read" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5 ORDER BY doc_id""",
    // the zone-pruned scan loses and invents nothing: exactly the
    // range predicate's rows
    "x148_zone_pruned_read" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents
      WHERE doc_id BETWEEN 100 AND 199 ORDER BY doc_id""",
    // 8 concurrent appenders, zero lost updates: the whole table
    "x150_concurrent_appends" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""",
    // fold(base, delta) must equal the from-scratch rebuild
    "x149_incremental_index" -> """
      WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        FROM documents),
      tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
             FROM toks WHERE length(token) > 0 GROUP BY 1, 2),
      idx AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(tf) AS BIGINT) AS total_tf
              FROM tf GROUP BY 1),
      r AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY total_tf DESC, token)
                      AS BIGINT) AS rank FROM idx)
      SELECT rank, token, n_docs, total_tf
      FROM r WHERE rank <= 200 ORDER BY rank""",
    // the published export must be content-identical to the source
    // table — count, xor-fold checksum, and mass all rebuilt by DuckDB
    "x121_publish_audit" -> """
      SELECT COUNT(*) AS n_rows,
        CAST(bit_xor(CAST(concat('0x', substr(md5(
            concat_ws('|', doc_id, lang, source, n_chars)), 1, 15)) AS BIGINT))
          AS BIGINT) AS content_xor,
        CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        TRUE AS published
      FROM documents""",
    // the bucketed copy must be content-identical to the source tables,
    // so the oracle is the plain logical join — layout is invisible
    "x120_bucketed_join" -> """
      SELECT c.c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(round(o.o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
          AS total_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1 ORDER BY 1""",
    // split mirrors the Scala midpoint: lo + (hi-lo) // 2, integer div
    "x95_schema_evolution" -> """
      WITH b AS (SELECT MIN(doc_id) + (MAX(doc_id) - MIN(doc_id)) // 2
                   AS split FROM documents)
      SELECT doc_id, lang, source,
        CASE WHEN doc_id <= split THEN NULL ELSE n_chars END AS n_chars
      FROM documents CROSS JOIN b ORDER BY doc_id""",
    "x70_jsonl_roundtrip" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""",
    "x85_orc_roundtrip" -> """
      SELECT doc_id, text, lang, source, n_chars
      FROM documents ORDER BY doc_id""")
}
