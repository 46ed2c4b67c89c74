package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Output sinks (SURVEY.md §2.1 S5-S7). Parquet is the system of record;
  * CSV exists for golden-file diffing against the reference's checked-in
  * outputs; JDBC mirrors the reference's Azure SQL load
  * (/root/reference/utils/datsetup.py:98-117) including the post-write
  * primary-key DDL Spark itself cannot emit.
  */
object Sinks {

  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** Hive-style partitioned parquet: one directory per distinct value of
    * `partitionCols`. Reads filtered on those columns prune whole
    * directories (PartitionFilters in the scan) — at 100 TB the difference
    * between scanning a day and scanning a decade.
    */
  def parquetPartitioned(df: DataFrame, path: String, partitionCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Small-file control: REBALANCE the frame before writing, so AQE
    * coalesces tiny output partitions (and splits skewed ones) to the
    * advisory partition size. A 100 TB pipeline stage that ends in a
    * 2000-partition shuffle would otherwise write 2000 files per run —
    * compounding into the millions-of-small-files listing problem
    * downstream readers pay for forever. The hint is a no-op shuffle
    * cost-wise when partitions are already well-sized; with an optional
    * key it also spreads writer skew (one giant partition writing one
    * giant file).
    */
  def parquetCompacted(df: DataFrame, path: String, keys: String*): Unit = {
    val rebalanced =
      if (keys.isEmpty) df.hint("rebalance")
      else df.hint("rebalance", keys.map(org.apache.spark.sql.functions.col): _*)
    rebalanced.write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Globally-sorted parquet: range-partition on the sort key, sort within
    * each partition, write. Total order across files = (file range order)
    * x (in-file order), with NO single-task global sort — the sampled
    * range exchange bounds every task at ~N/parts rows. This is how a
    * 100 TB table gets written in key order (for downstream merge scans,
    * min/max-pruned range queries, or sequential training-data delivery);
    * `df.orderBy(...).write` would plan the same exchange but a plain
    * `sort` before a write is easy to get wrong by coalescing first.
    * Parquet min/max footer stats then make key-range reads prune files —
    * the sorted-layout complement of partition pruning (q84).
    */
  def parquetSorted(df: DataFrame, path: String, sortCol: String,
                    parts: Int): Unit =
    df.repartitionByRange(parts, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Z-ordered parquet: interleave the bit-codes of two columns' quantile
    * cells (a Morton curve) and range-partition + sort on that key — the
    * multi-dimensional data-skipping layout (what table formats call
    * OPTIMIZE ZORDER BY). A single-column sort prunes range reads on ONE
    * column; Z-order makes parquet footer min/max stats selective on BOTH:
    * a file covers a small square of (a, b) space instead of a full-width
    * slice, so a query box selective in either dimension skips most files.
    *
    * Mechanics: per column, 2^bits quantile cells via one approx-quantile
    * pass (boundaries are a bounded driver-side array re-embedded as
    * literals — the chunkedPrefix pattern, and like there, boundary
    * QUALITY only affects balance, never which rows are written); the cell
    * id is a flat when-chain (q79 lesson), the Morton code is 2*bits
    * codegen'd bit ops. Files split on ALIGNED z prefixes (`parts` must be
    * a power of two): file id = z >> k, so every file covers one dyadic
    * (a, b) rectangle — a SAMPLED range split on z would smear file
    * boundaries across squares and halve the skipping. `colA` takes the
    * most-significant interleave bit, so with an odd split it gets the
    * finer slabs: put the column your queries band on most selectively
    * first. One exchange total (range on the ~parts-valued file id).
    */
  def parquetZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                      parts: Int, bits: Int = 6): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    require(bits >= 2 && bits <= 8, s"bits must be in [2, 8], got $bits")
    require(parts >= 2 && (parts & (parts - 1)) == 0 && parts <= (1 << (2 * bits)),
      s"parts must be a power of two in [2, 4^bits], got $parts")
    val nCells = 1 << bits
    def cell(c: String): Column = {
      val qs = (1 until nCells).map(_.toDouble / nCells)
      // percentile_approx over an empty (or all-null) frame yields a null
      // array — degrade to a single constant cell (every row in z-cell 0,
      // one file) instead of NPE-ing; matches the other sinks' behavior of
      // writing an empty/trivial dataset.
      val bounds = Option(df.select(percentile_approx(col(c).cast("double"),
          array(qs.map(lit): _*), lit(10000)).as("b"))
        .head().getSeq[Double](0)).getOrElse(Seq.empty)
      if (bounds.isEmpty) lit(0)
      else bounds.map(b => when(lit(b) <= col(c).cast("double"), 1).otherwise(0))
        .reduce(_ + _)
    }
    val (ca, cb) = (cell(colA), cell(colB))
    val z = (0 until bits).map { i =>
      shiftleft(shiftright(ca, i).bitwiseAND(lit(1)), 2 * i + 1) +
        shiftleft(shiftright(cb, i).bitwiseAND(lit(1)), 2 * i)
    }.reduce(_ + _)
    val zPerFile = (1 << (2 * bits)) / parts
    df.withColumn("__z", z)
      .withColumn("__fid", expr(s"__z DIV $zPerFile"))
      .repartitionByRange(parts, org.apache.spark.sql.functions.col("__fid"))
      .sortWithinPartitions("__z")
      .drop("__z", "__fid")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** A killed JVM can leave a managed table's warehouse directory on disk
    * with no catalog entry (the in-memory catalog dies with the session);
    * the next `saveAsTable` then fails with LOCATION_ALREADY_EXISTS even in
    * Overwrite mode, because Overwrite only replaces tables the catalog
    * knows about. Reclaim such orphans before writing: if the catalog has
    * no table of this name but its default location exists, delete it.
    */
  def reclaimOrphanTableLocation(spark: SparkSession, tableName: String): Unit =
    if (!spark.catalog.tableExists(tableName)) {
      val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(ident))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs.exists(loc)) fs.delete(loc, true)
    }

  /** Bucketed parquet table: co-locates rows by `bucketCol` so equi-joins
    * and aggregations on that key run shuffle-free (both sides bucketed with
    * the same count). This is the 100 TB answer to repeated fact⋈fact joins
    * on the same key — pay the shuffle once at write time.
    */
  def parquetBucketed(df: DataFrame, tableName: String, bucketCol: String,
                      numBuckets: Int): Unit = {
    reclaimOrphanTableLocation(df.sparkSession, tableName)
    df.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(tableName)
  }

  /** Compact a bucketed table's accumulated per-append files back to one
    * file per bucket, preserving the bucket spec — the maintenance step
    * the append paths (appendIvfIndexSaved, repeated parquetBucketed
    * admissions) schedule "on the same cadence as any bucketed fact
    * table". The rewrite repartitions on the bucket columns with the
    * bucket count so each task owns exactly one bucket (Spark's bucket id
    * and HashPartitioning use the same hash), writes a staging table, and
    * swaps it in via catalog rename — readers before the swap see the old
    * files, after it the compacted ones; content and co-location are
    * unchanged, so bucketed joins keep planning shuffle-free.
    */
  /** [[compactBucketedTable]] for an epoch-committed index table
    * (IndexCommits): the rewrite keeps COMMITTED rows only, so crashed
    * admissions' orphan rows — invisible to probes but still on disk —
    * are garbage-collected by the same maintenance pass that folds the
    * per-append files. The epoch column survives (probes keep
    * filtering); markers are untouched (orphan epochs simply match no
    * rows afterwards).
    */
  def compactBucketedTableCommitted(spark: SparkSession, tableName: String,
                                    commitBase: String): Unit =
    compactBucketedTable(spark, tableName,
      Some(IndexCommits.committedFilter(spark, commitBase)))

  /** [[compactBucketedTableCommitted]] that also FOLDS epochs — the table
    * side of IndexCommits.foldCommitted's rewrite callback: committed
    * rows only (orphans GC'd as ever), with `foldEpochs` remapped to
    * `target` so the ledger can drop their markers afterwards. Layout,
    * bucketing, and the visible row set are otherwise unchanged.
    */
  def compactBucketedTableFolding(spark: SparkSession, tableName: String,
                                  commitBase: String, foldEpochs: Seq[Long],
                                  target: Long): Unit =
    compactBucketedTable(spark, tableName,
      Some(IndexCommits.committedFilter(spark, commitBase)),
      Some(df => df.withColumn(IndexCommits.EpochCol,
        IndexCommits.foldEpochColumn(foldEpochs, target))))

  /** Complete an interrupted staging swap: the DROP-old → RENAME-staging
    * sequence every table rewrite here ends with is two catalog ops, and
    * a crash between them leaves the table ABSENT with the fully-written
    * replacement stranded under `<table>_compact_staging`. The window is
    * narrow but real (round-17 review), and it is the ONE interim state
    * of a ledger fold that does not read as the pre-fold table — so
    * rewrites and the fold path call this first, making a retried fold
    * (or any probe that routes through a lifecycle's load entry point)
    * self-healing: if the main table is gone but a staging table exists,
    * finish the rename.
    */
  def recoverTableSwap(spark: SparkSession, tableName: String): Unit = {
    val tmp = s"${tableName}_compact_staging"
    if (!spark.catalog.tableExists(tableName) && spark.catalog.tableExists(tmp))
      spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
  }

  /** Rewrite a NON-bucketed table through the same staging-then-rename
    * swap [[compactBucketedTable]] uses — the fold path for the plain
    * side tables (per-epoch stats rows, admission results) whose ledger
    * is folding. `transform` sees the current rows and returns what the
    * table should hold. The drop→rename window is recoverable, not
    * atomic — see [[recoverTableSwap]].
    */
  def rewritePlainTable(spark: SparkSession, tableName: String,
                        transform: DataFrame => DataFrame): Unit = {
    recoverTableSwap(spark, tableName)
    val tmp = s"${tableName}_compact_staging"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    reclaimOrphanTableLocation(spark, tmp)
    transform(spark.table(tableName))
      .write.mode(SaveMode.Overwrite).format("parquet").saveAsTable(tmp)
    spark.sql(s"DROP TABLE $tableName")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
  }

  def compactBucketedTable(spark: SparkSession, tableName: String,
                           rowFilter: Option[org.apache.spark.sql.Column] = None,
                           transform: Option[DataFrame => DataFrame] = None): Unit = {
    recoverTableSwap(spark, tableName)
    val ident = spark.sessionState.sqlParser.parseTableIdentifier(tableName)
    val meta = spark.sessionState.catalog.getTableMetadata(ident)
    val spec = meta.bucketSpec.getOrElse(throw new IllegalArgumentException(
      s"$tableName is not bucketed — nothing to compact"))
    val tmp = s"${tableName}_compact_staging"
    spark.sql(s"DROP TABLE IF EXISTS $tmp")
    reclaimOrphanTableLocation(spark, tmp)
    val keys = spec.bucketColumnNames.map(org.apache.spark.sql.functions.col)
    // The repartition below normally ELIDES (EnsureRequirements sees the
    // bucketed scan already hash-partitioned on the bucket columns), which
    // makes the whole rewrite shuffle-free — read bucket b, write bucket b.
    // But DisableUnnecessaryBucketedScan then flips the scan to plain
    // file-split reading (nothing above it LOOKS interested in the
    // distribution once the exchange is gone), silently un-co-locating the
    // buckets and writing one file per (task, bucket) again. Pin the
    // bucketed scan on for the duration of the rewrite: the scan keeps
    // one-partition-per-bucket, the exchange stays elided, and each task
    // rewrites exactly its own bucket into exactly one file.
    val autoScanKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAutoScan = spark.conf.get(autoScanKey)
    try {
      spark.conf.set(autoScanKey, "false")
      val filtered = rowFilter.fold(spark.table(tableName))(
        spark.table(tableName).filter(_))
      val src = transform.fold(filtered)(_(filtered))
      val writer = src
        .repartition(spec.numBuckets, keys: _*)
        .write.mode(SaveMode.Overwrite).format("parquet")
        .bucketBy(spec.numBuckets,
          spec.bucketColumnNames.head, spec.bucketColumnNames.tail: _*)
      (if (spec.sortColumnNames.nonEmpty)
         writer.sortBy(spec.sortColumnNames.head, spec.sortColumnNames.tail: _*)
       else writer).saveAsTable(tmp)
    } finally spark.conf.set(autoScanKey, prevAutoScan)
    spark.sql(s"DROP TABLE $tableName")
    spark.sql(s"ALTER TABLE $tmp RENAME TO $tableName")
  }

  /** CSV with a header line, for golden-file diffing against the
    * reference's `to_csv` outputs (main.py:214,221,228,236,345-346).
    */
  def csv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Newline-delimited JSON sink — the interchange layout for handing a
    * curated slice to a non-Spark consumer (tokenizer workers, labeling
    * UIs). One JSON object per line, written partition-parallel like every
    * other sink here; string fields are escaped by the writer, so the
    * round-trip through [[graft.sources.JsonSource.jsonLines]] is
    * lossless (q108 proves it under the oracle).
    */
  def jsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** ORC sink — the columnar interchange format next to parquet (Spark
    * ships native vectorized ORC read/write). Same Overwrite +
    * partition-parallel contract as [[parquet]]; type fidelity
    * (timestamps, decimals, nested) is proven by q179's round-trip
    * oracle against the parquet original.
    */
  def orc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  /** PK column naming rule from the reference: `<table>_id` for facts,
    * `dim_x` -> `id_x` for dims (utils/datsetup.py:100-113).
    */
  def pkColumn(table: String): String =
    if (table.startsWith("dim")) table.replaceFirst("^dim", "id")
    else s"${table}_id"

  /** T-SQL NOT NULL + clustered-PK DDL, as the reference emits against
    * Azure SQL (utils/datsetup.py:104-113).
    */
  def tsqlPkDdl(table: String, pk: String): Seq[String] = Seq(
    s"ALTER TABLE $table ALTER COLUMN $pk BIGINT NOT NULL",
    s"ALTER TABLE $table ADD CONSTRAINT PK_$table PRIMARY KEY CLUSTERED ($pk)")

  /** Derby/ANSI variant (used by the embedded integration test). Columns
    * are quoted: Spark's JDBC writer creates case-sensitive quoted
    * identifiers, which unquoted DDL would upper-case past.
    */
  def ansiPkDdl(table: String, pk: String): Seq[String] = Seq(
    s"""ALTER TABLE $table ALTER COLUMN "$pk" NOT NULL""",
    s"""ALTER TABLE $table ADD CONSTRAINT PK_$table PRIMARY KEY ("$pk")""")

  /** JDBC load + post-write primary-key DDL over a plain JDBC statement
    * (Spark's JDBC writer cannot emit constraints). The DDL dialect is
    * injectable; default matches the reference's Azure SQL.
    *
    * Overwrite recreates the table and installs the PK (the reference's
    * `if_exists='replace'` + DDL path, utils/datsetup.py:98-113); Append
    * adds rows to the existing table and leaves its constraints alone
    * (`if_exists='append'`, utils/datsetup.py:115-117) — re-running the
    * PK DDL against a populated table would fail on the existing
    * constraint name anyway.
    */
  def jdbc(df: DataFrame, url: String, table: String,
           props: java.util.Properties = new java.util.Properties(),
           pkDdl: (String, String) => Seq[String] = tsqlPkDdl,
           mode: SaveMode = SaveMode.Overwrite): Unit = {
    df.write.mode(mode).jdbc(url, table, props)
    if (mode == SaveMode.Overwrite) {
      var conn: java.sql.Connection = null
      try {
        conn = java.sql.DriverManager.getConnection(url, props)
        val st = conn.createStatement()
        pkDdl(table, pkColumn(table)).foreach(st.execute)
      } finally if (conn != null) conn.close()
    }
  }
}
