package graft

/** Driver-contract invariants: every oracle names a real query, the
  * no-oracle set stays exactly the documented allowlist (each member has a
  * dedicated property/equivalence spec — adding a rows-only query without
  * one must fail HERE, loudly), and the flagship smoke query returns rows.
  */
class ContractSpec extends SparkSuite {

  test("every oracleSql key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries (typo?): $orphans")
  }

  test("the no-oracle set is exactly the documented property-spec'd allowlist") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val allowed = Set(
      "q_approx_distinct",    // HLL 3-sigma bound: PropertySpec
      "q_dedup_minhash",      // hash-seeded estimate: DedupSpec
      "q_dedup_incr",         // hash-seeded incremental LSH: DedupSpec
                              // (decomposition + signature-path identity)
      "q_dedup_lifecycle",    // hash-seeded persisted-signature loop:
                              // DedupSpec (lifecycle + replay idempotence)
      "q_dedup_simhash",      // hash-seeded blocking: DedupSpec
      "q_dedup_embedding_ivf", // centroid-seeded blocking: SimilaritySpec
                              // (full-probe == brute, partial-probe recall)
      "q_similarity_lsh",     // seeded projections: SimilaritySpec recall
      "q_similarity_ivf",     // centroid-seeded: SimilaritySpec full-probe == brute
      "q_similarity_ivf_incr", // centroid-seeded persisted index: SimilaritySpec
                              // (full-probe == brute, pruned == unpruned, replay)
      "q_multimodal_decode",  // no media codec in DuckDB: MultimodalSpec
      "q_sample_split",       // layout property: SampleOpsSpec
      "q_quantile_sketch",    // sketch error bound: PropertySpec
      "q_chunk_cdc")          // rolling scan not SQL-expressible: CdcChunkSpec
    assert(noOracle == allowed,
      s"no-oracle drift — missing oracle: ${noOracle -- allowed}; " +
        s"stale allowlist: ${allowed -- noOracle}. A new rows-only query " +
        "needs a dedicated spec AND an entry here naming it.")
  }

  test("flagship entry returns rows (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("construction-time Spark actions stay within the documented allowlist") {
    // SURVEY §2.8 documents the small set of queries whose DataFrame
    // CONSTRUCTION runs Spark jobs (fixture writes, adaptive tier probes,
    // iterative localCheckpoints, driver-small collects). This pins it:
    // every query's constructor runs under its own job group, a
    // job-counting listener attributes jobs to groups, and any query
    // OUTSIDE the allowlist that runs even one job fails here. (Subset
    // check, not equality: fixture-writing constructors are legitimately
    // job-free when the on-disk fixture already exists.)
    val allowed = Set(
      // documented adaptive probes / iterative plans (SURVEY §2.8 table)
      "q_heavy_hitters",        // MG candidate pass before pass 2 plans
      "q_ngram_jaccard",        // sampled tier probe + localCheckpoint
      "q_dedup_jaccard_global", // corpus/universe counts for tier choice
      "q_dedup_near",           // localCheckpoint per CC round
      "q_dedup_cluster",        // localCheckpoint per CC round
      "q_components_sql",       // graft_components TVF resolves at analysis
                                // (CC rounds run when the plan is built)
      "q_similarity_ivf",       // k×dim centroid collect per Lloyd round
      "q_similarity_lsh",       // k×dim projection collect
      "q_dedup_embedding",      // corpus count for the brute/IVF tier choice
      "q_dedup_embedding_ivf",  // corpus count (tier-matched c) + centroid collects
      "q_similarity_ivf_incr",  // index build/append fixture + probed-cluster collect
      "q_dedup_simhash",        // corpus count for the slice/Manku tier choice
      "q_bloom_join",           // stat.bloomFilter: one agg pass builds the
                                // driver-small sketch that then broadcasts
      // sink queries ARE the write path
      "q_sink_jsonl", "q_sink_jdbc", "q_merge_jdbc", "q_write_partitioned",
      "q_merge_cdc_part",  // snapshot fixture write + single-job merge swap
      "q_merge_mor",       // base fixture write + two staged-swap CDC applies
      "q_time_travel",     // versioned-table create + two CoW merge commits
      "q_stats_prune",     // versioned-table create + manifest file pruning
      "q_change_feed",     // versioned-table fixture + manifest file diff
      "q_prune_where",     // versioned-table create + predicate-mined pruning
      "q_prune_sql",       // versioned-table create (rule prunes at action time)
      "q_ivm",             // source table + three CDF-folding view refreshes
      "q_agg_meta",        // versioned-table create (the query itself scans nothing)
      "q_vtable_mor",      // versioned-table create + two patch commits
      "q_vtable_ckpt",     // delta-manifest fixture: appends + checkpoint + distributed merge
      "q_merge_sql",       // versioned-table create + parsed MERGE commit (eager, like all DML)
      "q_update_sql",      // versioned-table create + parsed UPDATE rewrite
      "q_delete_sql",      // versioned-table create + parsed DELETE rewrite
      "q_ddl_sql",         // parsed CREATE TABLE AS + MERGE (eager, like all DDL/DML)
      "q_catalog_sql",     // V2-catalog CTAS + INSERT + DELETE chain (eager DDL/DML)
      "q_catalog_merge",   // V2-catalog CTAS + Spark-grammar MERGE INTO (eager DDL/DML)
      "q_catalog_merge_evolve", // CTAS + MERGE WITH SCHEMA EVOLUTION (eager DDL/DML)
      "q_delete_dv",       // DV-enabled create + positional DELETE + OPTIMIZE fold
      "q_update_dv",       // DV-enabled create + positional UPDATE + CDF + OPTIMIZE
      "q_dv_compose",      // MoR patch + fold-first DV update + clone DV delete
      "q_auto_compact",    // create + 8 small appends + amortized auto-compact commits
      "q_maintenance_sql", // parsed OPTIMIZE/ALTER/UPDATE/DELETE/RESTORE/VACUUM chain
      "q_replace_where",   // versioned-table create + parsed REPLACE WHERE commit
      "q_colmap_sql",      // create + rename/drop/re-add column chain (eager DDL)
      "q_clone_sql",       // source create + DELETE + zero-copy clone + clone DELETE
      "q_time_travel_ts",  // versioned-table create + UPDATE (ts read is metadata)
      "q_mv_rewrite",      // source table + two view refreshes + plan-assert probe
      "q_cdf_stream",      // versioned-table fixture + a drained AvailableNow CDF stream
      "q_stream_sink",     // snapshot create + changelog fixture + a drained sink stream
      "q_stream_table",    // table fixture + two drained snapshot/append streams
      "q_dedup_lifecycle", // two ingest rounds against the signature table
      "q_join_advised",    // profile scalars (rows/distinct/top-1) feed the advisor
      // scan queries write their fixture on first use + scalar watermark cuts
      "q_scan_csv", "q_scan_jsonl", "q_scan_corrupt", "q_scan_orc", "q_scan_xml",
      "q_scan_binary", "q_scan_avro",
      "q_scan_paged", "q_scan_http", "q_scan_http_offset", "q_scan_http_agg",
      "q_scan_pushdown", "q_zorder_scan")

    // pre-warm the Tables schema cache: the one-off footer-inference job
    // belongs to the fixture, not to whichever query touches it first
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach(t => Tables(spark, sf, t))
    Tables.events(spark, sf)

    val sc = spark.sparkContext
    val groupJobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        groupJobs.merge(g, 1, (a, b) => a + b)
      }
    }
    sc.addSparkListener(listener)
    try {
      def markerCount: Int = groupJobs.getOrDefault("ctor-probe-marker", 0)
      // The listener bus is FIFO: once the marker job (started AFTER the
      // constructor returned) is visible, every job the constructor
      // started is attributed.
      def flush(): Unit = {
        val before = markerCount
        sc.setJobGroup("ctor-probe-marker", "listener flush", false)
        spark.range(1).count()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (markerCount <= before && System.nanoTime() < deadline) Thread.sleep(10)
        assert(markerCount > before, "listener flush timed out")
      }
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        sc.setJobGroup(s"ctor-$name", s"constructing $name", false)
        try fn(spark, sf)
        finally sc.clearJobGroup()
        flush()
        val jobs = groupJobs.getOrDefault(s"ctor-$name", 0).intValue()
        if (jobs > 0 && !allowed.contains(name)) Some(name -> jobs) else None
      }
      assert(offenders.isEmpty,
        s"construction-pure queries ran Spark jobs while being BUILT (eager " +
          s"action added?): $offenders — either make construction lazy or " +
          "document the design choice in SURVEY §2.8 and this allowlist.")
      // and the allowlist itself must not rot: every allowed name is real
      assert((allowed -- SparkEntry.queries.keySet).isEmpty,
        s"stale allowlist entries: ${allowed -- SparkEntry.queries.keySet}")
    } finally sc.removeSparkListener(listener)
  }
}
