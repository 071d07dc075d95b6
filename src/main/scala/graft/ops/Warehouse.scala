package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Warehouse-shaped operators from SURVEY.md §2.4-2.6: the reference's
  * upsert/dedup/watermark machinery (/root/reference/scripts/load.py,
  * scripts/extract.py), re-expressed as distributed Spark plans.
  *
  * Storage layering — this object vs [[VersionedTable]]: everything here
  * mutates a plain parquet directory IN PLACE behind a crash-safe staged
  * swap — one visible state, minimal metadata, readable by any parquet
  * tool with no library on the read path. [[VersionedTable]] is the step
  * up when a deployment needs what single-state storage cannot give: time
  * travel, an immutable-file commit log (readers never race a swap),
  * stats/bloom file pruning, a change data feed, merge-on-read patch
  * commits as deletion vectors ([[VersionedTable.commitPatch]]), and ledger-based
  * exactly-once — at the price of manifest metadata and a vacuum
  * lifecycle. The merge SEMANTICS ([[applyChanges]]/[[applyChangesEvolve]])
  * are shared: the versioned table calls them per touched file set, so
  * the two layers cannot drift.
  */
object Warehouse {

  // ---------------------------------------------------------------- D2
  /** Primary-key dedup with a deterministic tiebreak
    * (load.py:146 `ON CONFLICT DO NOTHING` within a chunk = first row per
    * key wins; we order explicitly so the winner is stable across runs).
    *
    * COST-BASED plan choice, measured at sf10 (60M rows, 14.7M keys):
    *
    *  - Uniform-direction attribute tiebreaks (all plain ascending or all
    *    plain descending — every PK-dedup/CDC consumer in this repo) plan
    *    as a NATIVE partial-combining aggregate: `min(struct(tiebreak ++
    *    rest))` (`max` for descending). k = 1 per-group selection IS an
    *    ordinary aggregate, and Spark's sort-based partial aggregate
    *    (radix sort on the key + streaming combine) beats the custom
    *    hash-heap operator ~3× when keys are near-unique per task — the
    *    exact shape PK dedup has, where a per-row hash-map insert buys no
    *    combining. Struct ordering compares fields left to right with the
    *    same NULLS FIRST semantics as the SortOrder default, so the
    *    winner is identical; the non-tiebreak fields ride behind the
    *    tiebreak in the struct, which under the total-order contract
    *    never decides (and without it makes the pick deterministic
    *    rather than encounter-order-arbitrary).
    *  - Everything else (mixed directions, expression tiebreaks,
    *    explicit non-default null ordering, duplicate column names)
    *    plans through the bounded [[graft.plans.TopKPerGroupExec]]
    *    operator at k = 1 — the O(n) no-sort hash-heap path, which stays
    *    the winner when groups are few (genuine top-k ranking, k > 1).
    *
    * The tiebreak must totally order rows within a key (same contract as
    * before) for a stable winner.
    */
  def dedupByKey(df: DataFrame, keys: Seq[String], tiebreak: Seq[Column]): DataFrame =
    minStructDedup(df, keys, tiebreak).getOrElse(
      graft.plans.TopKPlans.topKPerGroupSort(df, keys, tiebreak, 1, "__rn")
        .drop("__rn"))

  /** The native-aggregate k = 1 plan when the tiebreak is eligible (see
    * [[dedupByKey]]); None → caller falls back to the custom operator.
    * Eligibility is deliberately conservative: every sort item must
    * resolve to a DISTINCT plain attribute of `df` with the direction's
    * DEFAULT null ordering, all column names must be unique and
    * struct-safe, and every carried type orderable.
    */
  private def minStructDedup(df: DataFrame, keys: Seq[String],
                             tiebreak: Seq[Column]): Option[DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, NullsFirst, NullsLast, RowOrdering}
    if (tiebreak.isEmpty) return None
    // same nonEmpty-keys contract as the custom-operator fallback (whose
    // TopKPerGroup requires it) — an empty `keys` must not silently plan
    // a global one-row aggregate on one path and throw on the other
    if (keys.isEmpty) return None
    val cols = df.columns
    if (cols.distinct.length != cols.length) return None
    // plain col("a.b") parses as a field access — stay off such names
    if (cols.exists(c => c.contains(".") || c.contains("`"))) return None
    if (!keys.forall(cols.contains)) return None
    // resolve direction + target attribute exactly the way the custom
    // operator does: analyze a throwaway sort of the same child
    val analyzed =
      try df.sort(tiebreak: _*).queryExecution.analyzed
      catch { case scala.util.control.NonFatal(_) => return None }
    val order = analyzed.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.order
    }.getOrElse(return None)
    val dfAttrs = df.queryExecution.analyzed.output
    val resolved = order.map { so =>
      (so.child match { case a: Alias => a.child; case c => c }) match {
        case a: Attribute => dfAttrs.find(_.exprId == a.exprId).map(att =>
          (att.name, so.direction, so.nullOrdering))
        case _ => None
      }
    }
    if (resolved.exists(_.isEmpty)) return None
    val items = resolved.flatten
    val tbNames = items.map(_._1)
    if (tbNames.distinct.length != tbNames.length) return None
    val useMin = items.forall { case (_, d, n) =>
      d == Ascending && n == NullsFirst }
    val useMax = items.forall { case (_, d, n) =>
      d == Descending && n == NullsLast }
    if (!useMin && !useMax) return None
    val packNames = tbNames.filterNot(keys.contains) ++
      cols.filterNot(c => keys.contains(c) || tbNames.contains(c))
    if (packNames.isEmpty) return None // keys-only rows: keep the operator
    val typeOf = dfAttrs.map(a => a.name -> a.dataType).toMap
    if (!packNames.forall(c => RowOrdering.isOrderable(typeOf(c)))) return None
    val packed = struct(packNames.map(col): _*)
    val w = (if (useMin) min(packed) else max(packed)).as("__vt_w")
    Some(df.groupBy(keys.map(col): _*).agg(w)
      .select(cols.map(c =>
        if (keys.contains(c)) col(c)
        else col("__vt_w").getField(c).as(c)).toIndexedSeq: _*))
  }

  /** SQL MERGE cardinality guard: passes every row through UNCHANGED but
    * raises at runtime if two source rows share a merge key — the
    * standard "multiple source rows matched" error SQL MERGE (and Delta)
    * mandates, where the CDC apply path would instead pick a tiebreak
    * winner. The count rides the same per-key exchange the dedup pass
    * would have paid, so the guard costs one window over one shuffle.
    * Null keys count as duplicates of each other too: the table's merge
    * contract is one row per key, including the null key.
    */
  def requireUniqueKeys(df: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    df.withColumn("__vt_keycnt", count(lit(1)).over(w))
      .filter(when(col("__vt_keycnt") > 1, raise_error(concat(
        lit("MERGE cardinality violation: multiple source rows share the " +
          s"merge key (${keys.mkString(", ")}) = ("),
        concat_ws(", ", keys.map(k => coalesce(col(k).cast("string"),
          lit("NULL"))): _*),
        lit(") — SQL MERGE matches at most one source row per target row. " +
          "Deduplicate the source, or use the CDC apply path " +
          "(Warehouse.applyChanges / commitMerge with a tiebreak) for " +
          "latest-wins semantics"))).isNotNull).otherwise(lit(true)))
      .drop("__vt_keycnt")
  }

  // ---------------------------------------------------------------- D1
  /** Insert-if-absent upsert, first-writer-wins (load.py:107-159
    * `INSERT ... SELECT ... ON CONFLICT (arrest_key) DO NOTHING`).
    *
    * Spark-first shape: LEFT ANTI join of incoming against the existing
    * target keys, then append. Column pruning leaves only the target's key
    * columns in the join. Spark cannot build the left side of a left-anti
    * join, so the side a broadcast can carry is the TARGET's keys
    * (`BroadcastHashJoin … LeftAnti, BuildRight`): below the broadcast
    * threshold the warehouse keys are broadcast to the incoming batch;
    * above it both sides shuffle on the key. Returns the rows that WOULD
    * be inserted; the caller appends them to the warehouse path.
    */
  def upsertNewRows(incoming: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(target.select(keys.map(col): _*), keys, "left_anti")

  /** Full upsert against a parquet warehouse directory: dedup the batch,
    * anti-join against current target keys, append. Idempotent — re-running
    * with the same batch inserts zero rows and adds no file (ScalaCheck
    * property in tests). A directory with no parquet data files (absent or
    * pre-created) takes the batch as it is.
    *
    * The insert set is written once, with no count before it: the returned
    * count is the footer row total of the part files this write added (a
    * listing diff — single writer per directory, the same contract as the
    * staged swaps). The write's 0-row part files are deleted, and an empty
    * insert set leaves the listing as it was (no directory is created).
    */
  def upsertIntoParquet(incoming: DataFrame, warehouseDir: String,
                        keys: Seq[String], tiebreak: Seq[Column]): Long = {
    val spark = incoming.sparkSession
    val deduped = dedupByKey(incoming, keys, tiebreak)
    val dir = new org.apache.hadoop.fs.Path(warehouseDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRetired(fs, warehouseDir)
    val existed = fs.exists(dir)
    val before = if (existed) fs.listStatus(dir).map(_.getPath.getName).toSet else Set.empty[String]
    val toInsert = dataFiles(fs, dir).headOption match {
      case Some(file) =>
        upsertNewRows(deduped, readParquetAs(spark, warehouseDir, file), keys)
      case None => deduped
    }
    toInsert.write.mode("append").parquet(warehouseDir)
    val added = fs.listStatus(dir).filterNot(st => before(st.getPath.getName)).toSeq
    val written = added.filter(st => st.isFile && isDataFile(st.getPath.getName))
    val rows = FooterStats.rowCounts(spark, written)
    val n = rows.sum
    val litter =
      if (n > 0) written.zip(rows).collect { case (st, 0L) => st.getPath }
      else if (existed) added.map(_.getPath)
      else Seq(dir)
    litter.foreach(fs.delete(_, true))
    n
  }

  private def isDataFile(name: String): Boolean =
    name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")

  /** The parquet data files under `dir`, recursively (none when it is
    * absent), skipping the `_`/`.`-prefixed names Spark's reader skips.
    */
  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory)
          if (name.startsWith(".") || (name.startsWith("_") && !name.contains("="))) Nil
          else walk(st.getPath)
        else if (isDataFile(name)) Seq(st)
        else Nil
      }
    if (fs.exists(dir)) walk(dir) else Seq.empty
  }

  /** Whether `dir` holds parquet data files — the one "the warehouse
    * exists" rule: a pre-created directory with none reads like an absent
    * one (Spark cannot infer a schema from it).
    */
  private[ops] def hasDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                                dir: org.apache.hadoop.fs.Path): Boolean =
    dataFiles(fs, dir).nonEmpty

  /** `dir` read under the Spark row schema stored in the footer of `file`,
    * one of its data files — a driver-side footer read in place of the
    * parquet schema-inference job. Files without that footer key (not
    * written by Spark) are read with inference.
    */
  private def readParquetAs(spark: SparkSession, dir: String,
                            file: org.apache.hadoop.fs.FileStatus): DataFrame =
    FooterStats.sparkSchema(file, spark.sessionState.newHadoopConf())
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** Rows in the parquet data files under `dir`, summed from their footers:
    * the row count of a directory a write just produced, with no Spark job.
    */
  private def footerRows(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                         dir: String): Long =
    FooterStats.rowCounts(spark, dataFiles(fs, new org.apache.hadoop.fs.Path(dir))).sum

  /** Replacing upsert — the last-writer-wins MERGE analog (the reference
    * only has insert-if-absent, `ON CONFLICT DO NOTHING`; warehouses also
    * need `WHEN MATCHED THEN UPDATE`). Incoming rows replace same-key
    * warehouse rows; new keys append. Plain parquet has no transactional
    * MERGE and a path cannot be overwritten while a lazy plan still reads
    * it, so the merged result lands in a staging dir that is swapped in
    * via two renames — the crash window leaves either the old or the new
    * dir intact (at real scale: Delta/Iceberg MERGE, or partition-level
    * `replaceWhere` to rewrite only touched partitions).
    */
  def mergeReplaceParquet(incoming: DataFrame, warehouseDir: String,
                          keys: Seq[String], tiebreak: Seq[Column]): Long = {
    val spark = incoming.sparkSession
    val deduped = dedupByKey(incoming, keys, tiebreak)
    val fs = new org.apache.hadoop.fs.Path(warehouseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRetired(fs, warehouseDir)
    val target = new org.apache.hadoop.fs.Path(warehouseDir)
    val merged =
      if (hasDataFiles(fs, target))
        spark.read.parquet(warehouseDir).join(deduped.select(keys.map(col): _*),
          keys, "left_anti").unionByName(deduped)
      else deduped
    stagedSwap(fs, warehouseDir) { stagingPath =>
      merged.write.mode("overwrite").parquet(stagingPath)
      footerRows(spark, fs, stagingPath)
    }
  }

  /** Crash-safe replace of `dir`: `write` materializes into a staging dir,
    * which is swapped in via two renames — any crash window leaves either
    * the old or the new dir intact. Shared by the MERGE and compaction
    * paths so the swap protocol cannot drift between them.
    */
  private def stagedSwap[T](fs: org.apache.hadoop.fs.FileSystem, dir: String)
                           (write: String => T): T = {
    val target = new org.apache.hadoop.fs.Path(dir)
    // underscore prefix: Spark/Hadoop readers treat _-prefixed siblings as
    // hidden, so a crash mid-swap never surfaces bogus partition values to
    // a whole-table reader when `dir` is a partition directory
    val staging = new org.apache.hadoop.fs.Path(target.getParent,
      "_" + target.getName + ".staging")
    val retired = new org.apache.hadoop.fs.Path(target.getParent,
      "_" + target.getName + ".old")
    fs.delete(staging, true)
    val out = write(staging.toString)
    fs.delete(retired, true)
    if (fs.exists(target)) fs.rename(target, retired)
    fs.rename(staging, target)
    fs.delete(retired, true)
    out
  }

  /** Close the swap's one non-atomic window: a crash BETWEEN
    * `rename(target, retired)` and `rename(staging, target)` leaves the
    * data only in the hidden `_<dir>.old` sibling. Every merge entry
    * point calls this BEFORE reading or classifying `dir`, restoring the
    * retired copy when it is the sole survivor — without it, a rerun
    * would misread the dir as absent (create semantics) and the swap's
    * `delete(retired)` would destroy the last copy of the old rows. When
    * both exist the crash was after the new data landed; the stale
    * retired copy is simply dropped.
    */
  private def recoverRetired(fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val target = new org.apache.hadoop.fs.Path(dir)
    val retired = new org.apache.hadoop.fs.Path(target.getParent,
      "_" + target.getName + ".old")
    if (fs.exists(retired)) {
      if (!fs.exists(target)) {
        require(fs.rename(retired, target),
          s"recoverRetired: could not restore $retired to $target")
      } else fs.delete(retired, true)
    }
  }

  // ---------------------------------------------------------------- S6 (JDBC)
  /** Warehouse load over JDBC — the reference's actual sink
    * (load.py:29-32 psycopg2 connection, load.py:96 `COPY ... NULL ''`):
    * empty strings become SQL NULL on the way in, matching the COPY
    * convention where a zero-length TSV field denotes NULL. Each executor
    * task opens its own connection and batch-inserts its partition, so
    * load parallelism = DataFrame partitioning (cap with
    * `df.coalesce(n)` to respect the database's connection budget — at
    * warehouse scale the DB, not Spark, is the bottleneck).
    */
  def loadJdbc(df: DataFrame, url: String, table: String,
               props: java.util.Properties, mode: String = "overwrite"): Unit = {
    val blanked = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .foldLeft(df) { (d, f) =>
        d.withColumn(f.name,
          when(col(f.name) === "", lit(null)).otherwise(col(f.name)))
      }
    blanked.write.mode(mode).jdbc(url, table, props)
  }

  /** Read a warehouse table back over JDBC. For large tables use
    * [[readJdbcPartitioned]] — unpartitioned JDBC reads are single-task.
    */
  def readJdbc(spark: SparkSession, url: String, table: String,
               props: java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** IN-DATABASE insert-if-absent — the true `ON CONFLICT DO NOTHING`
    * analog (load.py:114-147 stages a chunk then merges against the
    * indexed PK server-side). The batch stages via [[loadJdbc]], then ONE
    * `MERGE INTO target USING staging ON (<keys>) WHEN NOT MATCHED THEN
    * INSERT` runs where the data lives: conflict detection probes the
    * database's own structures and no warehouse row ever travels back to
    * Spark — unlike [[upsertIntoParquet]]'s anti-join, which must read
    * target keys into the cluster. Returns rows inserted, as counted BY
    * the database (the MERGE's update count — the skipped-conflicts
    * evidence). Creates the target from the staging schema when absent.
    *
    * Intra-batch duplicate keys dedup in Spark first ([[dedupByKey]],
    * the caller's tiebreak): SQL MERGE evaluates NOT MATCHED against the
    * target snapshot, so two staged rows with one new key would BOTH
    * insert (Postgres' `ON CONFLICT` sees in-statement inserts; MERGE
    * does not).
    */
  private def jdbcQuoter(url: String): String => String =
    c => org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(c)

  /** Create `table` as an empty PK-indexed clone of `stagingTable` when
    * absent. Existence goes through catalog metadata, NOT a probing SELECT
    * whose failure would misread a dropped connection / lock timeout as
    * "table absent". The PRIMARY KEY makes the MERGE probe an index
    * lookup, not a full target scan per staged row (the reference merges
    * against an INDEXED PK, load.py:114-147), and makes key uniqueness
    * ENFORCED by the database rather than assumed.
    */
  private def ensureJdbcTarget(conn: java.sql.Connection, table: String,
                               stagingTable: String, keys: Seq[String],
                               q: String => String): Unit = {
    val md = conn.getMetaData
    def has(n: String): Boolean = {
      val rs = md.getTables(null, null, n, null)
      try rs.next() finally rs.close()
    }
    if (!has(table) && !has(table.toUpperCase(java.util.Locale.ROOT))) {
      val st = conn.createStatement()
      st.executeUpdate(s"CREATE TABLE $table AS SELECT * FROM $stagingTable WITH NO DATA")
      keys.foreach(k => st.executeUpdate(s"ALTER TABLE $table ALTER COLUMN ${q(k)} NOT NULL"))
      st.executeUpdate(s"ALTER TABLE $table ADD PRIMARY KEY (${keys.map(q).mkString(", ")})")
    }
  }

  def mergeIntoJdbc(df: DataFrame, url: String, table: String,
                    stagingTable: String, keys: Seq[String], tiebreak: Seq[Column],
                    props: java.util.Properties): Long = {
    loadJdbc(dedupByKey(df, keys, tiebreak), url, stagingTable, props)
    Option(props.getProperty("driver")).foreach(Class.forName)
    val q = jdbcQuoter(url)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      ensureJdbcTarget(conn, table, stagingTable, keys, q)
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val cols = df.columns.map(q)
      conn.createStatement().executeUpdate(
        s"""MERGE INTO $table t USING $stagingTable s ON $on
           |WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
           |VALUES (${cols.map(c => s"s.$c").mkString(", ")})""".stripMargin).toLong
    } finally conn.close()
  }

  /** IN-DATABASE last-writer-wins merge — [[mergeIntoJdbc]]'s
    * UPDATE-on-match counterpart and [[mergeReplaceParquet]]'s server-side
    * analog (`WHEN MATCHED THEN UPDATE`, the warehouse MERGE idiom the
    * reference lacks): matched keys take the staged row's non-key columns,
    * new keys insert, all inside one database MERGE against the indexed
    * PK. Returns rows affected as counted by the database.
    */
  def mergeReplaceJdbc(df: DataFrame, url: String, table: String,
                       stagingTable: String, keys: Seq[String], tiebreak: Seq[Column],
                       props: java.util.Properties): Long = {
    loadJdbc(dedupByKey(df, keys, tiebreak), url, stagingTable, props)
    Option(props.getProperty("driver")).foreach(Class.forName)
    val q = jdbcQuoter(url)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      ensureJdbcTarget(conn, table, stagingTable, keys, q)
      val on = keys.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
      val cols = df.columns.map(q)
      val nonKeys = df.columns.filterNot(keys.contains).map(q)
      val matched =
        if (nonKeys.isEmpty) "" // all-key schema: nothing to update on match
        else s"WHEN MATCHED THEN UPDATE SET ${nonKeys.map(c => s"$c = s.$c").mkString(", ")}\n"
      conn.createStatement().executeUpdate(
        s"""MERGE INTO $table t USING $stagingTable s ON $on
           |${matched}WHEN NOT MATCHED THEN INSERT (${cols.mkString(", ")})
           |VALUES (${cols.map(c => s"s.$c").mkString(", ")})""".stripMargin).toLong
    } finally conn.close()
  }

  /** Drop a JDBC table if present (Derby has no `DROP TABLE IF EXISTS`). */
  def dropJdbcTable(url: String, table: String, props: java.util.Properties): Unit = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try conn.createStatement().executeUpdate(s"DROP TABLE $table")
    catch { case _: java.sql.SQLException => () }
    finally conn.close()
  }

  /** Parallel JDBC readback — the scale-safe shape. Bounds for the stride
    * come from one `SELECT MIN, MAX` pushed to the database (a scalar
    * driver-side query, the standard pattern); Spark then issues
    * `numPartitions` range-predicated scans in parallel. Falls back to the
    * single-task read when the table is empty or has one distinct
    * partition-column value (Spark requires lowerBound < upperBound).
    */
  def readJdbcPartitioned(spark: SparkSession, url: String, table: String,
                          props: java.util.Properties, partitionCol: String,
                          numPartitions: Int): DataFrame = {
    Option(props.getProperty("driver")).foreach(Class.forName)
    // Spark's JDBC writer quotes column identifiers at CREATE time, so a
    // case-folding database (Derby, Postgres) stores them case-exact —
    // quote through the url's dialect or MIN(k) would bind to K
    val quotedCol = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
      .quoteIdentifier(partitionCol)
    val conn = java.sql.DriverManager.getConnection(url, props)
    val (lo, hi) = try {
      val rs = conn.createStatement().executeQuery(
        s"SELECT MIN($quotedCol), MAX($quotedCol) FROM $table")
      rs.next()
      (rs.getLong(1), rs.getLong(2))
    } finally conn.close()
    if (hi <= lo) readJdbc(spark, url, table, props)
    else {
      val p = new java.util.Properties()
      p.putAll(props)
      p.setProperty("partitionColumn", quotedCol)
      p.setProperty("lowerBound", lo.toString)
      p.setProperty("upperBound", hi.toString)
      p.setProperty("numPartitions", numPartitions.toString)
      spark.read.jdbc(url, table, p)
    }
  }

  /** Small-file compaction: rewrite a parquet dir into
    * ⌈bytes / targetFileBytes⌉ files via the same crash-safe staged swap
    * as [[mergeReplaceParquet]]. The streaming-ingest pattern (one file
    * per micro-batch) degrades scans with open/footer overhead at scale;
    * periodic bin-packing restores large sequential reads. Returns
    * (filesBefore, filesAfter).
    */
  def compactParquet(spark: org.apache.spark.sql.SparkSession, dir: String,
                     targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRetired(fs, dir)
    val target = new org.apache.hadoop.fs.Path(dir)
    val entries = fs.listStatus(target)
    val dataFiles = entries
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    // a Hive-partitioned layout has its files in subdirectories: flattening
    // it here would destroy the partition columns' pruning — refuse loudly
    // (compact partitioned tables per-partition instead)
    require(dataFiles.nonEmpty || !entries.exists(_.isDirectory),
      s"compactParquet: $dir looks partitioned (subdirectories, no top-level " +
        "data files) — compact each partition directory individually")
    val totalBytes = dataFiles.map(_.getLen).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    stagedSwap(fs, dir) { stagingPath =>
      // coalesce, not repartition: bin-packing needs no shuffle
      spark.read.parquet(dir).coalesce(nOut)
        .write.mode("overwrite").parquet(stagingPath)
    }
    val after = fs.listStatus(target)
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    (dataFiles.length, after)
  }

  /** [[compactParquet]] for a Hive-partitioned table: compact each
    * `col=value` partition directory independently (partition layout and
    * pruning stats are preserved; partitions compact in isolation so a
    * failure affects at most one partition's swap). Returns per-partition
    * (before, after) file counts keyed by partition dir name.
    *
    * Concurrency caveat: while one partition swaps, its transient
    * `.staging`/`.old` sibling dirs are visible to a whole-table reader
    * as bogus partition values — at real scale this is what table formats
    * (Delta/Iceberg) solve with snapshot isolation; here, schedule
    * compaction when the table is not being read.
    */
  def compactPartitioned(spark: SparkSession, dir: String,
                         targetFileBytes: Long = 128L * 1024 * 1024): Map[String, (Int, Int)] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && n.contains("=") && !n.startsWith("_") && !n.startsWith(".")
      }
    // refuse multi-level partitioning UP FRONT so a failure can never
    // leave the table half-compacted (the documented per-partition
    // isolation only holds when every listed dir is a leaf partition)
    parts.foreach { st =>
      val nested = fs.listStatus(st.getPath)
        .exists(c => c.isDirectory && c.getPath.getName.contains("="))
      require(!nested,
        s"compactPartitioned: ${st.getPath} is multi-level partitioned — " +
          "recurse to the leaf level explicitly")
    }
    parts.map { st =>
      st.getPath.getName -> compactParquet(spark, st.getPath.toString, targetFileBytes)
    }.toMap
  }

  // ---------------------------------------------------------------- A1
  /** Ungrouped MAX watermark with empty-table default
    * (extract.py:42-54 `SELECT MAX(arrest_date)`, default '1900-01-01').
    * Partial max per partition → single-row final: no wide shuffle.
    */
  def highWaterMark(df: DataFrame, tsCol: String, default: Column): Column =
    coalesce(max(col(tsCol)), default)

  // ---------------------------------------------------------------- I1
  /** High-water-mark incremental read (extract.py:103 + :63): the source
    * rows after `coalesce(MAX(tsCol), default)` of the warehouse — strict
    * `>` as in the reference, or `>=` with `inclusive` (the PK dedup of
    * [[upsertNewRows]] then drops the re-read rows; fixes the §1.5
    * watermark quirk).
    *
    * When `warehouse` is a bare parquet relation (analyzed plan = one
    * `LogicalRelation`: no filter or projection) and `tsCol` is not a
    * partition column, the max comes from the footers of the relation's
    * own file listing — the files its scan would read — on the driver,
    * with no Spark job, and the source gets a plain filter on a literal.
    * Otherwise, or when the footers refuse ([[FooterStats.columnMax]]:
    * untrusted stats, more than 512 files), the max is an aggregate over
    * the warehouse joined to the source as a broadcast one-row side —
    * two Spark jobs that scan the whole warehouse.
    */
  def incrementalAfterWatermark(source: DataFrame, warehouse: DataFrame,
                                tsCol: String, default: Column,
                                inclusive: Boolean = false): DataFrame = {
    def after(hwm: Column): Column = if (inclusive) col(tsCol) >= hwm else col(tsCol) > hwm
    footerMax(warehouse, tsCol) match {
      case Some(mx) => source.filter(after(coalesce(mx, default)))
      case None =>
        val hwm = warehouse.agg(highWaterMark(warehouse, tsCol, default).as("__hwm"))
        source.join(broadcast(hwm), after(col("__hwm"))).drop("__hwm")
    }
  }

  /** MAX(`tsCol`) of a bare parquet relation as a literal (null when it
    * holds no non-null value), from its files' footers; None → aggregate.
    */
  private def footerMax(warehouse: DataFrame, tsCol: String): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val spark = warehouse.sparkSession
    val resolver = spark.sessionState.conf.resolver
    warehouse.queryExecution.analyzed match {
      case l: LogicalRelation => l.relation match {
        case r: HadoopFsRelation if r.fileFormat.isInstanceOf[ParquetFileFormat] &&
            !r.partitionSchema.exists(f => resolver(f.name, tsCol)) =>
          r.dataSchema.find(f => resolver(f.name, tsCol)).flatMap { f =>
            val files = r.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
            // an unreadable footer is the scan's failure to report
            try FooterStats.columnMax(spark, files, f.name, r.dataSchema)
              .map(mx => org.apache.spark.sql.GraftShim.column(Literal(mx.orNull, f.dataType)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
        case _ => None
      }
      case _ => None
    }
  }

  // ---------------------------------------------------------------- CDC apply
  /** Full CRUD merge — apply a CDC changelog to a snapshot, the
    * `WHEN MATCHED [AND cond] THEN UPDATE / DELETE, WHEN NOT MATCHED THEN
    * INSERT` shape (SQL:2003 MERGE; Delta/Iceberg `MERGE INTO`; a
    * Debezium-style sink). The reference's only merge is insert-if-absent
    * (`ON CONFLICT DO NOTHING`, reference/scripts/load.py:114-147) — it
    * can never correct or retract a row; this completes the family:
    * [[upsertNewRows]] is insert-if-absent, [[mergeReplaceParquet]]/
    * [[mergeReplaceJdbc]] are last-writer-wins, [[scd2Apply]] keeps
    * history — this one honors tombstones.
    *
    * Per change row: `deleteCond` true → tombstone (drops the key if
    * present, no-op if absent — it never inserts); otherwise upsert
    * (matched keys take the change row's non-key columns, new keys
    * insert). Target rows with no change pass through. `changes` must be
    * pre-deduped to one row per key ([[dedupByKey]]).
    *
    * Spark-first shape: both sides pack their non-key columns into ONE
    * struct and full-outer-join on the key — a single pair of hash
    * exchanges moving exactly one column beyond the keys, with matched /
    * insert / delete resolved by null-struct tests in a codegen'd
    * projection (no second pass, no union of three filtered branches —
    * which would scan the join output three times). The join is
    * `full_outer`, which Spark cannot plan as a broadcast hash join, so
    * BOTH sides shuffle on the key however small the changelog is: a merge
    * pays a hash exchange of every target row it is handed, not only of
    * the changes.
    */
  def applyChanges(target: DataFrame, changes: DataFrame, keys: Seq[String],
                   deleteCond: Column,
                   deleteMatchedOnly: Boolean = false): DataFrame =
    applyChangesImpl(target, changes, keys, deleteCond,
      extraPayload = Seq.empty, deleteMatchedOnly = deleteMatchedOnly)

  /** [[applyChanges]] with SCHEMA EVOLUTION — the Delta `mergeSchema`
    * analog the plain merge deliberately refuses (`require`: changes must
    * carry exactly the target's payload). The most common CDC event after
    * row churn is a NEW COLUMN in the change feed; here any changelog
    * column that is not a key, not an existing payload column, and not
    * named in `metaCols` is APPENDED to the output schema — pre-existing
    * target rows carry NULL for it, updated/inserted rows take the
    * changelog value. `metaCols` names the changelog's transport-metadata
    * columns (the delete flag, op codes, change timestamps) so they are
    * never absorbed as table payload; columns the target has but the
    * changelog lacks still `require`-fail (a DROPPED column is a schema
    * migration, not a merge).
    */
  def applyChangesEvolve(target: DataFrame, changes: DataFrame, keys: Seq[String],
                         deleteCond: Column,
                         metaCols: Seq[String] = Seq.empty): DataFrame = {
    val payload = target.columns.filterNot(keys.contains).toSeq
    val extra = changes.columns
      .filterNot(c => keys.contains(c) || payload.contains(c) || metaCols.contains(c))
      .toSeq
    applyChangesImpl(target, changes, keys, deleteCond, extra)
  }

  private def applyChangesImpl(target: DataFrame, changes: DataFrame, keys: Seq[String],
                               deleteCond: Column, extraPayload: Seq[String],
                               deleteMatchedOnly: Boolean = false): DataFrame = {
    val payload = target.columns.filterNot(keys.contains).toSeq
    require(payload.nonEmpty, "applyChanges: target has no non-key columns")
    // the packed-struct encoding reserves these names; a colliding payload
    // column would silently shadow the tombstone flag inside the struct
    require(!(payload ++ extraPayload).contains("__del") &&
        !target.columns.exists(Set("__t", "__s")),
      "applyChanges: column names __del/__t/__s are reserved by the merge encoding")
    require(keys.forall(changes.columns.contains) && payload.forall(changes.columns.contains),
      s"applyChanges: changes must carry the target's key and payload columns " +
        s"(missing: ${(keys ++ payload).filterNot(changes.columns.contains).mkString(", ")})")
    // evolved columns: the target side never had them — null of the
    // changelog's declared type keeps both struct shapes identical
    val tPayload = payload.map(col) ++ extraPayload.map(c =>
      lit(null).cast(changes.schema(c).dataType).as(c))
    val allPayload = payload ++ extraPayload
    val t = target.select(keys.map(col) :+ struct(tPayload: _*).as("__t"): _*)
    val s = changes
      .withColumn("__del", deleteCond)
      .select(keys.map(col) :+ struct((allPayload.map(col) :+ col("__del")): _*).as("__s"): _*)
    t.join(s, keys, "full_outer")
      // CDC semantics (default): tombstones drop matched keys and never
      // insert. SQL MERGE semantics (deleteMatchedOnly): the DELETE
      // condition only gates MATCHED rows — an unmatched tombstone row
      // still INSERTs (Spark/Delta `WHEN MATCHED AND c THEN DELETE` +
      // `WHEN NOT MATCHED THEN INSERT *`). A null __s.__del (NULL-valued
      // delete predicate) is not a delete either way, per SQL CASE.
      .filter(col("__s").isNull ||
        (if (deleteMatchedOnly) col("__t").isNull else lit(false)) ||
        !coalesce(col("__s.__del"), lit(false)))
      .select(keys.map(col) ++ allPayload.map { c =>
        when(col("__s").isNotNull, col(s"__s.$c")).otherwise(col(s"__t.$c")).as(c)
      }: _*)
  }

  /** [[applyChanges]] against a parquet warehouse directory, with the same
    * crash-safe staged swap as [[mergeReplaceParquet]] (plain parquet
    * cannot be overwritten while a lazy plan reads it; a crash window
    * leaves the old or the new dir intact, never a torn mix). `changes`
    * is deduped to one row per key first (tombstones win ties only via
    * the caller's tiebreak ordering). No-op (returns current count)
    * when the changelog is empty; creates the warehouse from insert-only
    * changes when absent — `payloadCols`, when non-empty, names the
    * columns the CREATED warehouse stores (so a CDC flag column the
    * `deleteCond` reads does not leak into the table schema; once the
    * warehouse exists its own schema defines the payload and the
    * parameter is ignored). Returns the post-merge row count.
    */
  def applyChangesParquet(changes: DataFrame, warehouseDir: String,
                          keys: Seq[String], tiebreak: Seq[Column],
                          deleteCond: Column,
                          payloadCols: Seq[String] = Seq.empty,
                          evolveSchema: Boolean = false,
                          metaCols: Seq[String] = Seq.empty): Long = {
    val spark = changes.sparkSession
    val fs = new org.apache.hadoop.fs.Path(warehouseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverRetired(fs, warehouseDir)
    val exists = hasDataFiles(fs, new org.apache.hadoop.fs.Path(warehouseDir))
    // empty changelog against an existing warehouse: honor the documented
    // no-op — without this check the full-outer join passes every row
    // through and the swap rewrites the whole table for zero changes.
    // Probe the PRE-dedup relation (dedup preserves emptiness): isEmpty on
    // the deduped plan would execute the TopK exchange once for the probe
    // and again for the merge write.
    if (exists && changes.isEmpty)
      return spark.read.parquet(warehouseDir).count()
    val deduped = dedupByKey(changes, keys, tiebreak)
    val merged =
      if (exists && evolveSchema)
        applyChangesEvolve(spark.read.parquet(warehouseDir), deduped, keys,
          deleteCond, metaCols)
      else if (exists)
        applyChanges(spark.read.parquet(warehouseDir), deduped, keys, deleteCond)
      else {
        // no snapshot: inserts materialize, tombstones are no-ops
        val payload =
          if (payloadCols.nonEmpty) payloadCols
          else deduped.columns.filterNot(c => keys.contains(c) || metaCols.contains(c)).toSeq
        deduped.filter(!coalesce(deleteCond, lit(false)))
          .select((keys ++ payload).map(col): _*)
      }
    // an all-tombstone changelog for an ABSENT warehouse must not create
    // an empty table dir ("no-op if absent — it never inserts")
    if (!exists && merged.isEmpty) return 0L
    stagedSwap(fs, warehouseDir) { stagingPath =>
      merged.write.mode("overwrite").parquet(stagingPath)
      footerRows(spark, fs, stagingPath)
    }
  }

  /** [[applyChangesParquet]] for a Hive-partitioned warehouse, rewriting
    * ONLY the partitions the changelog touches — the flat wrapper rewrites
    * the whole table per batch, which at 100 TB is a full-table write for
    * a few-GB changelog. Single-column convenience over
    * [[applyChangesPartitionedBy]]; returns touched-partition value →
    * post-merge row count.
    */
  def applyChangesPartitioned(changes: DataFrame, warehouseDir: String,
                              partCol: String, keys: Seq[String], tiebreak: Seq[Column],
                              deleteCond: Column,
                              payloadCols: Seq[String] = Seq.empty,
                              maxTouchedPartitions: Int = 10000,
                              evolveSchema: Boolean = false,
                              metaCols: Seq[String] = Seq.empty): Map[String, Long] =
    applyChangesPartitionedBy(changes, warehouseDir, Seq(partCol), keys, tiebreak,
      deleteCond, payloadCols, maxTouchedPartitions, evolveSchema, metaCols)
      .map { case (vals, n) => vals.head -> n }

  /** Partition-pruned CDC apply as ONE Spark job wave, for a warehouse
    * Hive-partitioned by `partCols` (multi-level: `date=…/source=…`).
    *
    * The changelog's distinct partition tuples (one bounded collect,
    * `require`d under `maxTouchedPartitions`) select the leaf dirs to
    * merge. All existing touched leaves are scanned as ONE multi-path
    * relation, full-outer-joined ONCE against the changelog on
    * `(partCols ++ keys)`, and the merged result is written in ONE
    * dynamic-partition job into a hidden staging root — then each touched
    * leaf swaps in via metadata-only renames. Job count is O(1) in the
    * number of touched partitions (collect + merge-write + count), vs the
    * previous serial per-partition loop that scheduled a full merge job
    * per touched dir — the difference between 3 jobs and 10 000 at a
    * wide changelog. Crash posture is STRICTLY better than the serial
    * loop: any failure before the swap loop leaves the table fully
    * untouched (staging is `_`-hidden); a crash inside the rename loop
    * (milliseconds per dir) leaves each leaf individually old-or-new,
    * never torn.
    *
    * Contracts (all inherited from the serial version, now stated):
    * - `partCols` must be part of every change row — a tombstone must
    *   name its partition, the same contract that lets Delta/Iceberg
    *   MERGE with partition predicates prune.
    * - **Keys must be partition-stable.** Each partition merges
    *   independently on `(partCols ++ keys)`: a change row whose key
    *   currently lives in a DIFFERENT partition upserts into the named
    *   partition while the old row survives — a table-wide duplicate. A
    *   key move must ship as an explicit tombstone in the old partition
    *   plus an insert in the new one.
    * - Touched partitions must share one schema (the single-relation scan
    *   reads them under the first touched leaf's footer schema); the
    *   create path below is designed so the table never forks.
    * - `deleteCond` may reference `partCols` ("partition retired") — the
    *   flag is evaluated before the merge encoding takes over.
    *
    * When a changelog CREATES a partition and `payloadCols` is not given,
    * the payload is taken from an existing partition's schema so a CDC
    * flag column cannot fork that partition's schema from the rest of the
    * table. Partition values address their directories through Spark's
    * own path escaping (both on the read side and in the staging
    * `partitionBy` write, which uses the same `escapePathName`), so any
    * value the writer could store is merged correctly (null/empty
    * excepted — those live in `__HIVE_DEFAULT_PARTITION__` and are
    * refused loudly). Partition columns are handled as STRINGS
    * throughout (the dir-name representation, injected via a
    * user-specified read schema so no partition-type inference can fork
    * a `p=1.50` dir into `p=1.5`). Returns touched partition-value tuple
    * (in `partCols` order) → post-merge row count.
    */
  def applyChangesPartitionedBy(changes: DataFrame, warehouseDir: String,
                                partCols: Seq[String], keys: Seq[String],
                                tiebreak: Seq[Column], deleteCond: Column,
                                payloadCols: Seq[String] = Seq.empty,
                                maxTouchedPartitions: Int = 10000,
                                evolveSchema: Boolean = false,
                                metaCols: Seq[String] = Seq.empty): Map[Seq[String], Long] = {
    val spark = changes.sparkSession
    require(partCols.nonEmpty, "applyChangesPartitionedBy: partCols is empty")
    partCols.foreach(pc => require(changes.columns.contains(pc),
      s"applyChangesPartitionedBy: changelog must carry the partition column $pc"))
    require(!changes.columns.contains("__pdel"),
      "applyChangesPartitionedBy: column name __pdel is reserved by the merge encoding")
    // Evaluate the tombstone flag while partCols are still the caller's
    // types, then pin every partition column to its dir-name string form —
    // the single representation the join keys, the staging partitionBy,
    // and the swap-path addressing all share.
    val flagged0 = changes.withColumn("__pdel", coalesce(deleteCond, lit(false)))
    val flagged = partCols.foldLeft(flagged0)((d, pc) => d.withColumn(pc, col(pc).cast("string")))
    val touched: Seq[Seq[String]] = flagged
      .select(partCols.map(col): _*).distinct()
      .collect().map(r => partCols.indices.map(r.getString)).toSeq
    touched.flatten.foreach(v => require(v != null && v.nonEmpty,
      s"applyChangesPartitionedBy: null/empty partition value in changelog — " +
        "Spark stores both under __HIVE_DEFAULT_PARTITION__; route such rows " +
        "through a dedicated default-partition pass instead"))
    require(touched.length <= maxTouchedPartitions,
      s"applyChangesPartitionedBy: changelog touches ${touched.length} partitions " +
        s"(> $maxTouchedPartitions) — a batch touching most of the table should " +
        "use applyChangesParquet's single rewrite instead")
    if (touched.isEmpty) return Map.empty
    // Directory names use Spark's OWN partition-value escaping (':' →
    // %3A etc.), so every value addresses exactly the dir
    // `df.write.partitionBy` produced — a hand-rolled charset guard
    // missed most of the writer's escape set and could fork a partition
    val esc: String => String =
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    def relPath(vals: Seq[String]): String =
      partCols.zip(vals).map { case (c, v) => s"$c=${esc(v)}" }.mkString("/")
    val fs = new org.apache.hadoop.fs.Path(warehouseDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recover any leaf a crashed swap left only in its retired copy —
    // BEFORE classification, or the rerun would misread it as a CREATE
    // and the swap below would delete the last copy of its rows
    touched.foreach(vals => recoverRetired(fs, s"$warehouseDir/${relPath(vals)}"))
    // a leaf without data files (absent or pre-created) is a CREATE
    val (existingT, createdT) = touched.partition(vals =>
      hasDataFiles(fs, new org.apache.hadoop.fs.Path(s"$warehouseDir/${relPath(vals)}")))

    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val partFields = partCols.map(StructField(_, StringType, nullable = true))
    // Payload for partitions the changelog CREATES: an existing partition's
    // schema keeps the table uniform; only a table with no partitions at
    // all falls back to the changelog shape. lazy — the steady-state batch
    // touches only existing partitions and must not pay the leaf walk.
    lazy val createPayload: Seq[String] =
      if (payloadCols.nonEmpty) payloadCols
      else {
        // walk one partCols-deep chain of `c=…` dirs to a leaf's footer
        def leafOf(dir: org.apache.hadoop.fs.Path, level: Int): Option[org.apache.hadoop.fs.Path] =
          if (level == partCols.length) Some(dir).filter(hasDataFiles(fs, _))
          else if (!fs.exists(dir)) None
          else fs.listStatus(dir)
            .filter(st => st.isDirectory &&
              st.getPath.getName.startsWith(s"${partCols(level)}="))
            .flatMap(st => leafOf(st.getPath, level + 1)).headOption
        leafOf(new org.apache.hadoop.fs.Path(warehouseDir), 0)
          .map(leaf => spark.read.parquet(leaf.toString)
            .columns.filterNot(keys.contains).toSeq)
          // bootstrap (no partitions anywhere): the changelog shape minus
          // transport metadata — same exclusion as the flat create path,
          // or metaCols would become table payload on day one
          .getOrElse(changes.columns
            .filterNot((keys ++ partCols ++ metaCols :+ "__pdel").contains).toSeq)
      }

    // one row per (partition, key): same result as the old per-partition
    // dedup, in one exchange
    val deduped = dedupByKey(flagged, partCols ++ keys, tiebreak)
    // membership per TUPLE, not per column: with (a=1,b=2) created and
    // (a=1,b=9) existing, an (a=1,b=9) change row must not switch branch
    val tupleCol = struct(partCols.map(col): _*)
    def inTuples(ts: Seq[Seq[String]]): Column =
      tupleCol.isin(ts.map(vals => struct(vals.map(lit): _*)): _*)
    val mergedExisting: Option[DataFrame] = existingT.headOption.map { first =>
      // footer schema of one touched leaf + partCols as STRING — the
      // user-specified schema keeps partition values verbatim (no type
      // inference) and skips per-dir footer jobs for the other leaves
      val dataSchema = spark.read
        .parquet(s"$warehouseDir/${relPath(first)}").schema
      val base = spark.read
        .schema(StructType(dataSchema.fields.toSeq ++ partFields))
        .option("basePath", warehouseDir)
        .parquet(existingT.map(vals => s"$warehouseDir/${relPath(vals)}"): _*)
      // only the existing-partition slice of the changelog — created-
      // partition rows would otherwise insert HERE (as unmatched join
      // rows) and again in the create branch
      val slice = deduped.filter(inTuples(existingT))
      // with evolution, TOUCHED leaves rewrite under the widened schema
      // while untouched leaves keep their old footers — whole-table
      // readers must fold the two with `mergeSchema` (or the table's
      // declared schema); the evolved column reads as NULL there, the
      // same contract the flat path gives pre-existing rows
      if (evolveSchema)
        applyChangesEvolve(base, slice, partCols ++ keys, col("__pdel"),
          metaCols :+ "__pdel")
      else applyChanges(base, slice, partCols ++ keys, col("__pdel"))
    }
    val insertsCreated: Option[DataFrame] = if (createdT.isEmpty) None else {
      val inCreated = deduped.filter(!col("__pdel")).filter(inTuples(createdT))
      val createCols =
        if (!evolveSchema) createPayload
        else createPayload ++ flagged.columns.filterNot(c =>
          keys.contains(c) || partCols.contains(c) || metaCols.contains(c) ||
            c == "__pdel" || createPayload.contains(c))
      Some(inCreated.select((partCols ++ keys ++ createCols).map(col): _*))
    }
    // distinct payloads would make this union fail LOUDLY — a created
    // partition may never fork the table schema
    val merged = (mergedExisting, insertsCreated) match {
      case (Some(a), Some(b)) => a.unionByName(b)
      case (Some(a), None) => a
      case (None, Some(b)) => b
      case (None, None) => return touched.map(_ -> 0L).toMap
    }

    val stagingRoot = new org.apache.hadoop.fs.Path(warehouseDir + ".cdcstage")
    val hidden = new org.apache.hadoop.fs.Path(stagingRoot.getParent,
      "_" + stagingRoot.getName)
    fs.delete(hidden, true)
    // ONE dynamic-partition job materializes every touched leaf's new
    // contents; nothing in the live table has moved yet
    merged.write.mode("overwrite").partitionBy(partCols: _*).parquet(hidden.toString)
    // post-merge counts: one aggregate over the (small) staged output
    val stagedCounts: Map[Seq[String], Long] =
      spark.read
        .schema(StructType(merged.drop(partCols: _*).schema.fields.toSeq ++ partFields))
        .parquet(hidden.toString)
        .groupBy(partCols.map(col): _*).count()
        .collect().map(r => partCols.indices.map(r.getString) -> r.getLong(partCols.length))
        .toMap
    // swap loop: metadata-only renames per touched leaf (old-or-new per
    // leaf, never torn); a leaf absent from staging is either fully
    // deleted (existing → becomes an empty-but-readable dir) or a ghost
    // (created by tombstones only → never materializes)
    val emptyLeafDf = {
      lazy val df = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        merged.drop(partCols: _*).schema).repartition(1)
      () => df
    }
    touched.foreach { vals =>
      val target = new org.apache.hadoop.fs.Path(s"$warehouseDir/${relPath(vals)}")
      val staged = new org.apache.hadoop.fs.Path(s"$hidden/${relPath(vals)}")
      if (fs.exists(staged)) {
        val retired = new org.apache.hadoop.fs.Path(target.getParent,
          "_" + target.getName + ".old")
        fs.delete(retired, true)
        fs.mkdirs(target.getParent)
        if (fs.exists(target)) fs.rename(target, retired)
        fs.rename(staged, target)
        fs.delete(retired, true)
      } else if (fs.exists(target)) {
        // every row of an existing leaf deleted: swap in an empty dir with
        // a real footer so whole-table reads keep working
        stagedSwap(fs, target.toString) { stagingPath =>
          emptyLeafDf().write.mode("overwrite").parquet(stagingPath)
        }
      } // ghost: tombstones for an absent partition never create the dir
    }
    fs.delete(hidden, true)
    touched.map(vals => vals -> stagedCounts.getOrElse(vals, 0L)).toMap
  }

  // ---------------------------------------------------------------- SCD-2
  /** Slowly-changing-dimension type 2: apply a batch of updates to a
    * history-keeping dimension. The reference's warehouse is SCD-0 (`ON
    * CONFLICT DO NOTHING` — first write wins forever, load.py:146); real
    * dimension maintenance needs the history-preserving upgrade.
    *
    * Rows carry `(attrCols..., effTsCol)` validity metadata implicitly:
    * a key's history is its rows ordered by `effTsCol`; the CURRENT row is
    * the latest. Updates whose attributes equal the key's current attributes
    * are no-ops (no history spam); genuinely-new keys insert. The result is
    * the union'd history with `valid_to` recomputed (next row's `effTs`,
    * null = current) — so it can be re-derived at any time from an
    * append-only log, the cheapest shape at 100 TB: one shuffle keyed on
    * the dimension key for the change-detection window, one more for the
    * final `valid_to` window, both on the same key (Catalyst reuses the
    * partitioning).
    *
    * Updates must be pre-deduped to one row per (key, effTs).
    */
  def scd2Apply(dim: DataFrame, updates: DataFrame, keyCol: String,
                effTsCol: String, attrCols: Seq[String]): DataFrame = {
    val cols = Seq(keyCol, effTsCol) ++ attrCols
    val hist = dim.select(cols.map(col): _*)
    // history rows order before a same-instant update, making the update a
    // detectable (and rejectable) same-timestamp change rather than an
    // ambiguous sort; updates should use fresh effective timestamps
    val preByKey = Window.partitionBy(keyCol).orderBy(col(effTsCol), col("__src"))
    val byKey = Window.partitionBy(keyCol).orderBy(effTsCol)
    // change detection: an update is real iff its attributes differ from
    // the chronologically-previous version (including the brand-new case)
    val attrStruct = struct(attrCols.map(col): _*)
    val merged = hist.withColumn("__src", lit(0))
      .unionByName(updates.select(cols.map(col): _*).withColumn("__src", lit(1)))
      .withColumn("__prev", lag(attrStruct, 1).over(preByKey))
      .filter(col("__src") === 0 ||
        col("__prev").isNull || !(col("__prev") <=> attrStruct))
      .drop("__src", "__prev")
    // recompute validity: valid_to = next version's effective-from
    merged
      .withColumn("valid_to", lead(col(effTsCol), 1).over(byKey))
      .withColumn("is_current", col("valid_to").isNull)
  }
}
