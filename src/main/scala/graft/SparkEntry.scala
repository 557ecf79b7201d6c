package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, count, date_trunc, expr, floor, lit, max, min, when, sum => fsum}

import graft.operators.{NorthStar, Relational}
import graft.pipeline.{CocoaGen, CocoaPipeline, Warehouse}
import graft.streaming.StreamingQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 gets an entry in
  * [[queries]]; SQL-expressible ones also get a DuckDB oracle in
  * [[oracleSql]] (column names aliased identically on both sides —
  * the driver sorts columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.revenueByRegion(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = baseQueries ++
    // SQL surface: dialect-common SQL executed verbatim by spark.sql
    // over registered views; the SAME string is the DuckDB oracle.
    graft.core.Catalog.commonSql.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => graft.core.Catalog.sql(s, dir, q))
    }

  /** BENCH-ONLY rows: production configurations of the approximate
    * operators whose gate entries in [[queries]] are recall
    * CERTIFICATES (they execute brute-force truth + the recall join
    * on top of the operator — timing the gate over-states the
    * operator ~2.5×). These have NO oracle by design — correctness of
    * the same code paths is certified by v02/v04 and pinned exactly
    * by v07/v06 — so they are timed by [[Bench]] but never dumped by
    * [[Verify]]. */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] = Map(
    "v02_ann_production" -> (NorthStar.annTopKProduction _),
    "v04_ivf_production" -> (NorthStar.ivfTopKProduction _),
    "v15_ivfpq_production" -> (NorthStar.ivfPqTopKProduction _),
    "v18_rerank_production" -> (NorthStar.ivfPqRerankProduction _),
    "v17_filtered_production" -> (NorthStar.filteredAnnProduction _),
    "v20_mips_production" -> (NorthStar.mipsAnnProduction _),
    // z-rows: exhaustive-vs-prefix pair routes timed on a seeded
    // ZIPFIAN corpus (real text's vocabulary shape, where the prefix
    // theorems claim their win — the driver fixture's uniform
    // vocabulary can't measure it). Fixed-size synthetic input; no
    // oracle by design (equivalence of the routes is spec-pinned on
    // both corpus shapes; these rows exist to be timed).
    "z01_zipf_jaccard_exhaustive" -> (NorthStar.zipfJaccardExhaustive _),
    "z02_zipf_jaccard_prefix" -> (NorthStar.zipfJaccardPrefix _),
    "z03_zipf_containment_exhaustive" -> (NorthStar.zipfContainmentExhaustive _),
    "z04_zipf_containment_prefix" -> (NorthStar.zipfContainmentPrefix _),
    // w-rows: copy-on-write vs manifest (file-granular) delete, same
    // five surgical range deletes over an identical 32-file seed —
    // the O(Δ)-DML claim measured, not asserted (equivalence of the
    // two arms is gate- and spec-pinned; see WarehouseBench).
    "w01_delete_cow" -> (graft.pipeline.WarehouseBench.deleteCow _),
    "w02_delete_manifest" -> (graft.pipeline.WarehouseBench.deleteManifest _))

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary"   -> (Relational.pricingSummary _),
    "q02_filter_project"    -> (Relational.filterProject _),
    "q03_revenue_by_nation" -> (Relational.revenueByNation _),
    "q04_revenue_by_region" -> (Relational.revenueByRegion _),
    "q05_top_orders"        -> (Relational.topOrders _),
    "q06_best_order_per_customer" -> (Relational.bestOrderPerCustomer _),
    "q07_distinct_counts"   -> (Relational.distinctCounts _),
    "q08_customers_without_orders" -> (Relational.customersWithoutOrders _),
    "q09_big_spenders"      -> (Relational.bigSpenders _),
    "q10_set_intersect"     -> (Relational.setIntersect _),
    "q11_set_union"         -> (Relational.setUnion _),
    "q12_set_except"        -> (Relational.setExcept _),
    "q13_latest_event_per_user" -> (Relational.latestEventPerUser _),
    "q14_daily_event_stats" -> (Relational.dailyEventStats _),
    "q15_rollup_quantities" -> (Relational.rollupQuantities _),
    "q16_scalar_functions"  -> (Relational.scalarFunctions _),
    "q17_frequent_customers" -> (Relational.frequentCustomers _),
    "q18_revenue_by_brand"  -> (Relational.revenueByBrand _),
    "q19_sessionize"        -> (Relational.sessionize _),
    "q20_above_average_orders" -> (Relational.aboveAverageOrders _),
    "q21_salted_revenue_by_brand" -> (Relational.saltedRevenueByBrand _),
    "q22_approx_stats"      -> (Relational.approxStats _),
    "q23_pivot_quantities"  -> (Relational.pivotQuantities _),
    "q24_token_frequencies" -> (Relational.tokenFrequencies _),
    "q25_date_arithmetic"   -> (Relational.dateArithmetic _),
    "q26_string_functions"  -> (Relational.stringFunctions _),
    "q27_price_tiers"       -> (Relational.priceTiers _),
    "q28_null_semantics"    -> (Relational.nullSemantics _),
    "q29_json_props"        -> (Relational.jsonProps _),
    "q30_cube_quantities"   -> (Relational.cubeQuantities _),
    "q31_left_join_brands"  -> (Relational.leftJoinBrands _),
    "q32_full_outer_year_spend" -> (Relational.fullOuterYearSpend _),
    "q35_native_topk" -> (Relational.nativeTopOrders _),
    "q33_percentile_spend"  -> (Relational.percentileSpend _),
    "q37_stats_moments"     -> (Relational.statsMoments _),
    "q38_global_rank_deciles" -> ((s, dir) => Relational.globalRankDeciles(s, dir)),
    "q39_bloom_prefilter"    -> ((s, dir) => Relational.bloomPrefilterFlags(s, dir)),
    "q40_funnel_depth"       -> (Relational.funnelDepth _),
    // q56: greedy first-touch funnel with a 1-hour per-step window.
    "q56_windowed_funnel"    -> ((s, dir) => Relational.windowedFunnel(s, dir)),
    "q41_value_outliers"     -> (Relational.valueOutliers _),
    "q42_cohort_retention"   -> (Relational.cohortRetention _),
    "q43_forward_fill"       -> (Relational.forwardFillDaily _),
    // q49: linear-interpolation gap fill — integer-exact weighted
    // average between the bracketing observations.
    "q49_interpolate"        -> (Relational.interpolateDaily _),
    // q50: co-purchase support + integer-micro lift, top-50 pairs.
    "q50_basket_lift"        -> ((s, dir) => Relational.basketLift(s, dir)),
    // q51: Misra–Gries heavy hitters per event type — gate runs the
    // sketch's exact regime (users ≪ capacity); bound regime is
    // spec-pinned.
    "q51_heavy_hitters"      -> ((s, dir) => Relational.heavyHitters(s, dir)),
    // q52: KMV sketch set-algebra — per-type-pair distinct-user
    // union/intersection from persisted bottom-k sketches; exact
    // while the union fits in k (it does at every fixture SF).
    "q52_kmv_set_ops"        -> ((s, dir) => Relational.kmvSetOps(s, dir)),
    // q53: 2-D skyline from per-date aggregates; oracle is the O(n²)
    // dominance NOT EXISTS.
    "q53_pareto_frontier"    -> (Relational.paretoFrontier _),
    // q54: integer total-variation drift between half-month slices.
    "q54_distribution_drift" -> (Relational.distributionDrift _),
    // q55: Kolmogorov-Smirnov drift — the worst cumulative gap, the
    // alarm statistic to q54's summed disagreement.
    "q55_ks_drift"           -> (Relational.ksDrift _),
    "q44_table_checksums"    -> (Relational.tableChecksums _),
    // q47: declarative constraint audit — row predicates in one scan
    // per table, pk uniqueness, fk integrity; exact violation counts.
    "q47_constraint_audit"   -> (Relational.constraintAudit _),
    // q46: persisted HLL sketch-table rollup — distinct-count cube
    // cells answered by merging stored KB-scale sketches, the raw
    // events never rescanned; certificate vs exact counts.
    "q46_sketch_rollup"      -> (Relational.hllSketchRollup _),
    // q48: persisted KMV bottom-k quantile sketch table, merged per
    // type; merge ≡ direct-build is structural (monotone selection),
    // so the oracle's one-pass re-derivation hash-certifies the whole
    // two-phase pipeline.
    "q48_quantile_rollup"    -> ((s, dir) => Relational.quantileSketchRollup(s, dir)),
    "q34_asof_clicks"       -> (Relational.asofClicks _),
    "q36_range_join"        -> (NorthStar.rangeJoinViewPurchase _),
    // Cocoa pipeline parity (O1-O18): the engine generates its own
    // landing CSVs, dumps a copy to a fixed path, and the DuckDB
    // oracle re-derives the warehouse from those exact files (parse →
    // enrich → LWW merge in SQL) — full hash-compared pipeline
    // oracles. p02-p04 are the O19 analytics surface: value-by-region,
    // quality trends, regional distribution.
    "p01_cocoa_warehouse"   -> ((s, _) => cocoaWarehouse(s)),
    "p02_cocoa_value_by_region" -> ((s, _) =>
      cocoaWarehouse(s).groupBy(col("region"))
        .agg(fsum(col("shipment_value_usd")).as("total_value_usd"))
        .orderBy("region")),
    "p03_cocoa_quality_trends" -> ((s, _) =>
      cocoaWarehouse(s)
        .groupBy(date_trunc("week", col("timestamp")).as("week"), col("region"))
        .agg(count(lit(1)).as("n_shipments"),
          (fsum(floor(col("quality_score") * 100 + lit(0.5))) / 100.0).as("sum_quality"))
        .orderBy("week", "region")),
    "p04_cocoa_region_distribution" -> ((s, _) =>
      cocoaWarehouse(s).groupBy(col("region"))
        .agg(count(lit(1)).as("n_shipments"))
        .orderBy("region")),
    "p05_time_travel" -> ((s, _) => cocoaTimeTravel(s)),
    // p06: the SAME two generated batches landed in a real external
    // RDBMS (embedded Derby — the offline stand-in for the
    // reference's Postgres target) through the distributed JDBC
    // upsert, then read back over JDBC. Hash-matching p01's oracle
    // certifies the sink preserves the exact warehouse the parquet
    // path produces.
    "p06_jdbc_warehouse" -> ((s, _) => cocoaJdbcWarehouse(s)),
    // p07: CDC — the row-level change set between the two committed
    // snapshots of the memoized run (v0 = batch 1, v1 = both). The
    // incremental-consumption primitive: downstream processes |Δ|
    // rows, not the corpus. Oracled by re-deriving BOTH versions from
    // the landing CSVs and diffing them in SQL.
    "p07_version_diff" -> ((s, _) => cocoaVersionDiff(s)),
    // p08: COMPACTION — the memoized warehouse re-landed as a
    // deliberately fragmented snapshot (16 files) in its own root,
    // then Warehouse.compact rewrites it near the target file size as
    // a new committed version. The query returns the COMPACTED
    // snapshot's rows; hash-matching p01's oracle certifies that
    // compaction changed the physical layout only.
    "p08_compaction" -> ((s, _) => cocoaCompacted(s)),
    // p12: ROW-LEVEL DELETE via merge-on-read deletion vectors — two
    // cumulative deleteWhere calls publish KB-scale (file, pos) lists
    // against an 8-file snapshot whose data files are never rewritten;
    // the read applies them as a broadcast anti join. The oracle
    // re-derives the warehouse and applies the predicates as WHERE
    // NOT, so a position off-by-one, a file-identity slip, or a DV
    // part lost between the two calls all break the hash.
    "p12_deletion_vectors" -> ((s, _) => cocoaDvDeleted(s)),
    // p29: p12's DV-bearing snapshot read back through the CONNECTOR —
    // format("graft") applies the deletion vectors MERGE-ON-READ
    // ([[graft.sources.v2.GraftDvScan]], the Delta reader shape: DV
    // positions ride the scan partitions, a two-pointer skip per
    // file). Shares p12's oracle, so a resurrection through the SQL
    // door breaks the hash exactly where the Scala API's would.
    "p29_dv_connector_read" -> ((s, _) => cocoaDvConnectorRead(s)),
    // p30: the SQL RENAME COLUMN lifecycle — ALTER TABLE ... RENAME
    // COLUMN is a ZERO-COPY metadata commit (Warehouse.renameColumns,
    // the Delta column-mapping shape), the keyed upsert lands AFTER
    // the rename addressing the LOGICAL name, and the read flows
    // through [[graft.sources.v2.GraftMappedScan]] (builtin vectorized
    // parquet under translated names). Time travel ACROSS the rename
    // (old era, old names) is spec-pinned; the gate hashes the
    // post-rename, post-upsert truth.
    "p30_rename_sql_lifecycle" -> ((s, _) => cocoaRenamedSqlLifecycle(s)),
    // p31: OPT-IN merge-on-read SQL DELETE — with
    // TBLPROPERTIES('deleteMode'='merge-on-read') the statement lands
    // as deletion vectors (O(matched) written, zero data rewritten,
    // NO version published — both structurally required inside the
    // gate) and the follow-up catalog read serves the live rows
    // through [[graft.sources.v2.GraftDvScan]]. Same truth as p12.
    "p31_sql_delete_mor" -> ((s, _) => cocoaSqlMorDelete(s)),
    // p32: CTAS — `CREATE TABLE … USING graft AS SELECT` seeds a new
    // catalog table from the derived warehouse through the connector's
    // commit-protocol write; the read-back must hash the same truth.
    "p32_sql_ctas" -> ((s, _) => {
      val wh = cocoaWarehouse(s)
      val base = graft.core.RunTemp.dir("graft_ctas_gate_", keep = 32)
      s.conf.set("spark.sql.catalog.graft_ctas_gate",
        "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_ctas_gate.base", base)
      wh.createOrReplaceTempView("graft_ctas_gate_src")
      s.sql("CREATE TABLE graft_ctas_gate.wh_copy USING graft" +
        " TBLPROPERTIES('mergeKey'='shipment_id')" +
        " AS SELECT * FROM graft_ctas_gate_src")
      s.sql("SELECT * FROM graft_ctas_gate.wh_copy").orderBy("shipment_id")
    }),
    // p33-p36: MANIFEST COMMITS — the O(Δ) DML mode (Delta/Iceberg
    // file-list metadata on a plain filesystem). Appends write only
    // the new rows' files; delete/update/merge rewrite only files
    // containing touched rows; everything else rides in the manifest
    // BY REFERENCE. Each gate REQUIRES the file-granularity claim
    // inside the query (carried v0/ entries present), so a silent
    // fallback to whole-snapshot copy-on-write fails the hash row.
    "p33_manifest_append" -> ((s, _) => cocoaManifestAppend(s)),
    "p34_manifest_delete" -> ((s, _) => cocoaManifestDelete(s)),
    "p35_manifest_update" -> ((s, _) => cocoaManifestUpdate(s)),
    "p36_manifest_merge" -> ((s, _) => cocoaManifestMerge(s)),
    // p38: hive partitioning × manifest commits — partition PRUNING
    // and O(Δ) file-granular DML on one table (the Delta/Iceberg
    // pairing), with the conversion, carry, _MANIFEST_PARTS, and a
    // live partition-pruning counter pin all REQUIRED in-gate
    "p38_partitioned_manifest" -> ((s, _) => cocoaPartitionedManifest(s)),
    // p39: RENAME COLUMN × manifest commits — a rename atop a manifest
    // chain is a METADATA-ONLY map commit (lines carried verbatim,
    // zero data written — required in-gate), later manifest DML
    // translates, and time travel stays era-correct; all through SQL
    "p39_manifest_rename" -> ((s, _) => cocoaManifestRename(s)),
    // p40: OPTIMIZE (bin-pack) for manifest tables — the mechanism
    // bounding manifest metadata growth: small files fold into few,
    // right-sized files ride verbatim, the table STAYS in manifest
    // mode; fold + carry + mode all required in-gate
    "p40_manifest_optimize" -> ((s, _) => cocoaManifestOptimize(s)),
    // p41: DELETION VECTORS × manifest commits — the LAST composition
    // cell: a merge-on-read SQL DELETE on a manifest table attaches an
    // in-place (file,pos) vector keyed root-relative — no version
    // bump, no rewrite, manifest lines untouched (all required
    // in-gate); the read serves the live rows through the DV scan
    // over the manifest's own file list
    "p41_manifest_dv_delete" -> ((s, _) => cocoaManifestDvDelete(s)),
    // p37: the same mode through PLAIN SQL (commitMode=manifest →
    // INSERT upsert + DELETE route file-granular), requires pinned.
    "p37_sql_manifest_lifecycle" -> ((s, _) => cocoaSqlManifestLifecycle(s)),
    // p13: RESTORE — an earlier snapshot re-committed as the NEW
    // current version (forward-only history, auditable, fenced);
    // oracled by the batch-1-only re-derivation, p05's truth.
    "p13_restore" -> ((s, _) => cocoaRestored(s)),
    // p15: SHALLOW CLONE — zero-copy fork of the warehouse's current
    // snapshot into a fresh root; the gate reads THROUGH the clone
    // pointer, so resolution, validation, and byte-identity are all
    // inside the hash. Spec pins the zero-data-file + copy-on-write
    // properties the value check can't see.
    "p15_shallow_clone" -> ((s, _) => cocoaCloned(s)),
    // p16: zero-copy column rename (column mapping) — logical names
    // applied at read over unmoved bytes; oracle aliases the same
    // columns.
    "p16_column_rename" -> ((s, _) => cocoaRenamed(s)),
    // p17: SCD Type-2 history merge — overlapping batches close and
    // reopen validity intervals; every interval re-derived by the
    // oracle from the landing CSVs.
    "p17_scd2_history" -> ((s, _) => cocoaScd2(s)),
    // p18: clustered compaction (OPTIMIZE ZORDER + zone-map sidecar)
    // — layout-only rewrite, content hash-pinned to the p01 oracle.
    "p18_clustered_compaction" -> ((s, _) => cocoaClusteredCompaction(s)),
    // p19: as-of aggregate over the SCD2 history — one interval
    // predicate answers "state at T"; oracle re-aggregates batch 1.
    "p19_scd2_asof" -> ((s, _) => cocoaScd2AsOf(s)),
    // p20: consistent snapshot group — the agg member read through
    // the cross-table pin; oracle recomputes over the facts member.
    "p20_snapshot_group" -> ((s, _) => cocoaSnapshotGroup(s)),
    // p21: three-way branch merge (clone, diverge disjointly, fold
    // back) — merged table ≡ LWW over all four landing batches.
    "p21_branch_merge" -> ((s, _) => cocoaBranchMerge(s)),
    // p23: two fork-diverge-merge rounds (advanced merge base)
    "p23_branch_remerge" -> ((s, _) => cocoaBranchRemerge(s)),
    "p24_sql_insert_upsert" -> ((s, _) => cocoaSqlInsertUpsert(s)),
    "p25_sql_delete" -> ((s, _) => cocoaSqlDelete(s)),
    "p26_sql_update" -> ((s, _) => cocoaSqlUpdate(s)),
    "p27_sql_merge" -> ((s, _) => cocoaSqlMerge(s)),
    "p28_sql_alter_evolve" -> ((s, _) => cocoaSqlAlterEvolve(s)),
    // p14: WRITE-AUDIT-PUBLISH — a poisoned snapshot is staged,
    // audited, and rejected (no version ever appears); the clean one
    // publishes. Reading v0 pins "the bad batch never landed" into
    // the hash itself.
    "p14_wap" -> ((s, _) => cocoaWapPublished(s)),
    // p11: SQL-standard conditional MERGE INTO — delete / update /
    // insert clauses with conditions, standard clause precedence,
    // and the duplicate-source-match error, re-derived row-for-row
    // by the oracle's classification joins.
    "p11_merge_into" -> ((s, _) => cocoaMergeInto(s)),
    // p10: PERSISTED CHANGE FEED — the v0→v1 transition materialized
    // as a durable artifact at publish time (the Delta CDF shape);
    // consumers read the stored feed instead of re-diffing two
    // snapshots each. Projected to p07's flat change shape and held
    // to p07's oracle: stored ≡ derived, hash-exact.
    "p10_change_feed" -> ((s, _) => cocoaChangeFeed(s)),
    // p09: INCREMENTAL AGGREGATE MAINTENANCE — the v0 value-by-region
    // aggregate maintained to v1 by absorbing only the pre/post-image
    // change feed (never re-scanning v1), hash-certified against the
    // oracle's direct recompute over the final warehouse. The
    // materialized-view refresh primitive: at 100 TB the refresh pays
    // |Δ| + group-cardinality, not the corpus.
    "p09_incremental_agg" -> ((s, _) => cocoaIncrementalAgg(s)),
    // Structured Streaming surface
    "s04_cocoa_stream_warehouse" -> ((s, _) => cocoaStreamWarehouse(s)),
    // s15: crash mid-drain between warehouse commit and checkpoint
    // commit, restart from the checkpoint — exactly-once effect via
    // idempotent replay; same batch-pipeline oracle as s04.
    "s15_stream_crash_recovery" -> ((s, _) => runCocoaStreamCrashRecovery(s)),
    // s16: streaming ANN-index maintenance — appendPq per micro-batch,
    // final artifact multiset-equal to a one-shot frozen-model encode.
    "s16_stream_index_maintenance" -> (StreamingQueries.streamIndexMaintenance _),
    // s17: streaming near-dup gate vs a growing corpus — pair set is
    // batch-split-invariant and equals d28's exhaustive oracle.
    "s17_stream_neardup_gate" -> (StreamingQueries.streamNearDupGate _),
    "s18_stream_change_feed" -> ((s, _) => cocoaCdcStream(s)),
    // s20: the plain-snapshot STREAMING SOURCE — a table that never
    // declared changeFeed tailed as an append-only stream
    // ([[graft.sources.v2.GraftSnapshotSource]]: offsets are versions,
    // each batch = snapshot-EXCEPT-ALL diff, rewrites refuse loudly).
    // Two append-only commits drained AvailableNow across a shared
    // checkpoint; the union of batches must re-assemble the warehouse
    // exactly — s04's oracle.
    "s20_stream_snapshot_tail" -> ((s, _) => cocoaSnapshotTailed(s)),
    // s21: the same tail over MANIFEST appends takes the O(Δ)
    // new-files-only path — zero snapshot diff per trigger, with the
    // engagement counter AND the exact planned-file count required
    // in-gate; reuses s20's whole-warehouse oracle
    "s21_stream_manifest_tail" -> ((s, _) => cocoaManifestTailed(s)),
    // s19: the same dual-drain as s04, but the sink is the CONNECTOR
    // (writeStream.format("graft")) — exactly-once via the sink's
    // in-snapshot epoch markers instead of foreachBatch code.
    "s19_stream_sink" -> ((s, _) => cocoaStreamSinkWarehouse(s)),
    "s07_stream_jdbc_warehouse" -> ((s, _) => cocoaStreamJdbcWarehouse(s)),
    "s01_streaming_daily_stats" -> (StreamingQueries.dailyEventStats _),
    "s05_streaming_dedup" -> (StreamingQueries.dedupedEvents _),
    // s14: dropDuplicatesWithinWatermark — ts-free key, first-sighting
    // state TTL; dedups re-stamped redeliveries s05's form passes.
    "s14_dedup_within_watermark" ->
      (StreamingQueries.dedupedEventsWithinWatermark _),
    "s08_stream_incremental_dedup" -> (StreamingQueries.incrementalDedupStream _),
    // s10: streaming incremental-view maintenance — each micro-batch
    // folds into a warehouse-committed aggregate via the p09
    // machinery; final view ≡ whole-history aggregate.
    "s10_stream_incremental_agg" ->
      ((s, d) => StreamingQueries.incrementalAggStream(s, d)),
    "s09_streaming_outliers" -> (StreamingQueries.streamingValueOutliers _),
    // s11: late-data dead-letter capture — sub-watermark rows landed
    // in a quarantine table instead of silently dropped; the oracle
    // replays the watermark rule batch-by-batch in integer µs.
    "s11_late_data_dlq" -> (StreamingQueries.lateDataDlq _),
    "s06_stream_stream_join" -> (StreamingQueries.viewPurchaseJoin _),
    "s02_streaming_windowed_counts" -> (StreamingQueries.windowedEventCounts _),
    // s12: native session_window + watermark (append) — the built-in
    // merging-session-state twin of s03; oracle replays the gap rule
    // and the final-watermark emission cut.
    "s12_session_window" -> ((s, dir) => StreamingQueries.sessionWindowStream(s, dir)),
    // s13: stream-static broadcast enrichment — the stateless third
    // join topology; oracle is the plain batch join.
    "s13_stream_static_join" -> (StreamingQueries.segmentEnrichedCounts _),
    "s03_stateful_sessions" -> ((s, dir) =>
      graft.streaming.StatefulSessions.sessionize(s, dir)),
    // North-star: dedup / text analysis / similarity / multimodal
    "d01_exact_dedup_groups" -> (NorthStar.exactDedupGroups _),
    "d02_token_stats"        -> (NorthStar.tokenStats _),
    "d03_punct_counts"       -> (NorthStar.punctCounts _),
    "d04_quality_scores"     -> (NorthStar.qualityScores _),
    "d05_lang_id"            -> (NorthStar.langIdPredictions _),
    "d06_fingerprints"       -> (NorthStar.fingerprints _),
    "d10_fingerprints_md5"   -> (NorthStar.fingerprintsMd5 _),
    "d11_bpe_token_counts"   -> (NorthStar.bpeTokenCounts _),
    // The custom Catalyst expression called THROUGH spark.sql via the
    // graft_* function registry (GraftFunctions) — proves the SQL
    // surface is first-class and cross-engine exact (the oracle
    // recomputes the sketch from scratch in SQL).
    "d12_sql_simhash" -> ((s, dir) => {
      graft.core.Catalog.registerAll(s, dir)
      graft.functions.GraftFunctions.register(s)
      s.sql("""SELECT doc_id, graft_simhash64_portable(text) AS sim
              |FROM documents ORDER BY doc_id""".stripMargin)
    }),
    // t-rows: the TABLE-VALUED-FUNCTION front door — each drives a
    // flagship TABLE operator (dedup / knn / near-dup pairs / upsert)
    // through a plain spark.sql FROM-clause call, proving the SQL
    // surface covers whole-relation transforms, not just scalar
    // kernels (GraftTableFunctions; oracles in tvfOracleSql).
    "t01_tvf_exact_dedup" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT doc_id, lang, source, n_chars
        |FROM graft_exact_dedup('documents', 'doc_id', 'text')
        |ORDER BY doc_id""".stripMargin)),
    "t02_tvf_knn" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT query_id, nbr_id, cosine, rank
        |FROM graft_knn('embeddings', 'vec_id', 'embedding', 5)
        |WHERE query_id < 50 ORDER BY query_id, rank""".stripMargin)),
    "t03_tvf_minhash_pairs" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT id_a, id_b, jaccard FROM graft_minhash_pairs(
        |  "(SELECT doc_id, text FROM documents
        |    UNION ALL
        |    SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text
        |    FROM documents WHERE doc_id < 40)",
        |  'doc_id', 'text', 128, 32, 3, 0.5)
        |ORDER BY id_a, id_b""".stripMargin)),
    "t04_tvf_upsert" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT * FROM graft_upsert(
        |  '(SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey <= 2000)',
        |  "(SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus FROM orders
        |    WHERE o_orderkey > 1000 AND o_orderkey <= 3000)",
        |  'o_orderkey', 'o_orderkey')
        |ORDER BY o_orderkey""".stripMargin)),
    // t05/t06: the CUSTOM JOIN operators through the same front door
    // (AS-OF via the union+window plan, interval via the banded
    // self-join) — proving SQL reaches the whole-operator extensions,
    // not just the relational composites.
    "t05_tvf_asof_join" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT event_id, user_id, unix_millis(ts) AS ts_ms,
        |  unix_millis(click_ts) AS click_ts_ms, click_value
        |FROM graft_asof_join(
        |  "(SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase')",
        |  "(SELECT user_id, ts, value FROM events WHERE event_type = 'click')",
        |  'user_id', 'ts', 'ts', 'ts', 'click_ts', 'value', 'click_value')
        |ORDER BY event_id""".stripMargin)),
    "t06_tvf_interval_join" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT user_id, view_id, purchase_id,
        |  purchase_us - view_us AS gap_us
        |FROM graft_interval_join(
        |  "(SELECT event_id AS view_id, user_id, unix_micros(ts) AS view_us
        |    FROM events WHERE event_type = 'view')",
        |  "(SELECT event_id AS purchase_id, user_id, unix_micros(ts) AS purchase_us
        |    FROM events WHERE event_type = 'purchase')",
        |  'view_us', 'purchase_us', 0, 3600000000, 'user_id')
        |ORDER BY view_id, purchase_id""".stripMargin)),
    // t07/t08: the WAREHOUSE surface through SQL — Delta's `VERSION AS
    // OF` / `table_changes` parity: time travel and the stored change
    // feed as FROM-clause calls (roots interpolated at gate-build time
    // the way a user would template a table path).
    "t07_tvf_time_travel" -> ((s, dir) => {
      cocoaWarehouse(s)
      val root = cocoaDirsMemo.get(s).warehouse
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_time_travel('$root', 0) ORDER BY shipment_id")
    }),
    // t18: the LIVE read as a FROM-clause call — p12's DV warehouse
    // state through `graft_live(root)` (current version, vectors
    // applied, rename map applied); same truth as p12/p29/p31.
    "t18_tvf_live" -> ((s, dir) => {
      val wh = cocoaWarehouse(s)
      val root = graft.core.RunTemp.dir("graft_live_tvf_", keep = 32)
      Warehouse.commit(s, root, wh.repartition(8))
      Warehouse.deleteWhere(s, root, col("quality_score") < lit(8.0))
      Warehouse.deleteWhere(s, root, col("region") === lit("Volta"))
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_live('$root') ORDER BY shipment_id")
    }),
    // t19: OPTIMIZE as a FROM-clause procedure — p40's bin-pack
    // through `graft_optimize(root, target, small)`: the manifest
    // FOLDS (required in-gate), right-sized files ride verbatim, the
    // table stays in manifest mode, and the returned rows ARE the
    // optimized snapshot (content unchanged — the oracle certifies).
    "t19_tvf_optimize" -> ((s, dir) => {
      val wh = cocoaWarehouse(s)
      val root = graft.core.RunTemp.dir("graft_opt_tvf_", keep = 32)
      val half = coalesce(col("quality_score") < lit(8.8), lit(false))
      Warehouse.appendFiles(s, root, wh.filter(half).coalesce(1))
      (0 until 4).foreach(i => Warehouse.appendFiles(s, root,
        wh.filter(!half)
          .filter(expr("pmod(crc32(shipment_id), 4)") === lit(i))
          .coalesce(1)))
      val fs = graft.sources.v2.GraftTables.fs(s, root)
      val cur = Warehouse.currentVersion(s, root).get
      val before = Warehouse.manifestOf(fs, root, cur).get
      val bigBytes = Warehouse.dataFileEntries(s, root, cur).map(_._2).max
      val out = graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_optimize('$root', ${128L * 1024 * 1024}," +
          s" $bigBytes) ORDER BY shipment_id")
      // the TVF runs its side effect at analysis — out is resolved here
      val v = Warehouse.currentVersion(s, root).get
      val after = Warehouse.manifestOf(fs, root, v).getOrElse(
        throw new IllegalStateException(
          "t19: graft_optimize must STAY in manifest mode"))
      require(v > cur && after.size < before.size,
        s"t19: the TVF must fold the manifest, ${before.size} -> ${after.size}")
      out
    }),
    "t08_tvf_change_feed" -> ((s, dir) => {
      cocoaWarehouse(s)
      val root = cocoaDirsMemo.get(s).warehouse
      Warehouse.publishChangeFeed(s, root, 1L)
      val dataCols = graft.pipeline.CocoaSchema.warehouse.fieldNames.toSeq
        .filterNot(_ == "shipment_id")
        .map(c => s"coalesce(new_image, old_image).`$c` AS `$c`")
      graft.core.Catalog.sql(s, dir,
        s"""SELECT shipment_id, ${dataCols.mkString(", ")}, change_type
           |FROM graft_change_feed('$root', 1)
           |ORDER BY shipment_id""".stripMargin)
    }),
    // t09: consistent snapshot-group reads via SQL — the pinned
    // (table -> version) set resolved inside a FROM clause.
    "t09_tvf_group_member" -> ((s, dir) => {
      val (groupDir, _) = buildCocoaSnapshotGroup(s)
      graft.core.Catalog.sql(s, dir,
        s"""SELECT region, n_shipments, total_value_usd
           |FROM graft_group_member('$groupDir', 'agg')
           |ORDER BY region""".stripMargin)
    }),
    // t10: incremental exact dedup via SQL — d29's three planted
    // increment populations (verbatim re-crawls dropped, new mutated
    // texts kept, higher-id echoes collapsed) driven through the
    // graft_new_content TVF; same oracle as d29.
    "t10_tvf_new_content" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT doc_id, md5(text) AS content_hash
        |FROM graft_new_content(
        |  'documents',
        |  "(SELECT doc_id + 200000 AS doc_id, text FROM documents
        |     WHERE doc_id < 40 AND text IS NOT NULL
        |    UNION ALL
        |    SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text
        |     FROM documents WHERE doc_id < 40 AND text IS NOT NULL
        |    UNION ALL
        |    SELECT doc_id + 300000 AS doc_id, text || ' graftmark' AS text
        |     FROM documents WHERE doc_id < 40 AND text IS NOT NULL)",
        |  'doc_id', 'text')
        |ORDER BY doc_id""".stripMargin)),
    // t11/t12: retrieval and curation through the front door — BM25
    // top-k (queries relation built inline, composing the scalar
    // graft_tokenize registry with the TVF surface and a REPARTITION
    // hint for kernel width) and the deterministic k-per-stratum
    // fingerprint sample.
    "t11_tvf_bm25" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT query_id, doc_id, score_micro, rank
        |FROM graft_bm25(
        |  "(SELECT /*+ REPARTITION(8) */ doc_id, text FROM documents)",
        |  'doc_id', 'text',
        |  "(SELECT DISTINCT doc_id AS query_id, term FROM (
        |      SELECT doc_id, explode(slice(graft_tokenize(text), 1, 4)) AS term
        |      FROM documents WHERE doc_id < 5 AND text IS NOT NULL))",
        |  5)
        |ORDER BY query_id, rank""".stripMargin)),
    "t12_tvf_stratified_sample" -> ((s, dir) => graft.core.Catalog.sql(s, dir,
      """SELECT doc_id, lang, sample_rank
        |FROM graft_stratified_sample('documents', 'doc_id', 'lang', 'text', 20)
        |ORDER BY lang, sample_rank""".stripMargin)),
    // t13-t15: lakehouse OPERATIONS through SQL — snapshot-history
    // introspection and the maintenance procedures (compact, vacuum)
    // as FROM-clause calls: the operational verbs Delta spells
    // DESCRIBE HISTORY / OPTIMIZE / VACUUM, each returning rows the
    // oracle can certify (history = per-version LWW counts; the
    // procedures return the post-op CURRENT snapshot, so the hash
    // match proves maintenance was layout-only).
    "t13_tvf_history" -> ((s, dir) => {
      cocoaWarehouse(s)
      val root = cocoaDirsMemo.get(s).warehouse
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_history('$root') ORDER BY version")
    }),
    "t14_tvf_compact" -> ((s, dir) => {
      val wh = cocoaWarehouse(s)
      val root = graft.core.RunTemp.dir("graft_tvfcompact_wh_", keep = 32)
      Warehouse.commit(s, root, wh.repartition(16))
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_compact('$root') ORDER BY shipment_id")
    }),
    "t15_tvf_vacuum" -> ((s, dir) => {
      val wh = cocoaWarehouse(s)
      val dirs = cocoaDirsMemo.get(s)
      val root = graft.core.RunTemp.dir("graft_tvfvacuum_wh_", keep = 32)
      val v0 = s.read.schema(graft.pipeline.CocoaSchema.warehouse)
        .parquet(Warehouse.versionPath(dirs.warehouse, 0L))
      Warehouse.commit(s, root, v0)
      Warehouse.commit(s, root, wh)
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_vacuum('$root', 1) ORDER BY shipment_id")
    }),
    // t16/t17: zero-copy clone and rollback through SQL — the last
    // two operational verbs (Delta: CLONE / RESTORE), each returning
    // the post-op snapshot so p01's / p05's oracle certifies content.
    "t16_tvf_clone" -> ((s, dir) => {
      cocoaWarehouse(s)
      val src = cocoaDirsMemo.get(s).warehouse
      val dst = graft.core.RunTemp.dir("graft_tvfclone_wh_", keep = 32)
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_clone('$src', '$dst') ORDER BY shipment_id")
    }),
    "t17_tvf_restore" -> ((s, dir) => {
      val wh = cocoaWarehouse(s)
      val dirs = cocoaDirsMemo.get(s)
      val root = graft.core.RunTemp.dir("graft_tvfrestore_wh_", keep = 32)
      val v0 = s.read.schema(graft.pipeline.CocoaSchema.warehouse)
        .parquet(Warehouse.versionPath(dirs.warehouse, 0L))
      Warehouse.commit(s, root, v0)
      Warehouse.commit(s, root, wh)
      graft.core.Catalog.sql(s, dir,
        s"SELECT * FROM graft_restore('$root', 0) ORDER BY shipment_id")
    }),
    "d07_minhash_near_dups"  -> (NorthStar.minhashNearDups _),
    "d28_incremental_neardups" -> (NorthStar.incrementalNearDups _),
    "d29_incremental_exact"  -> (NorthStar.incrementalExactDedupNew _),
    "d08_simhash_near_dups"  -> (NorthStar.simhashNearDups _),
    "d09_ngram_jaccard_near_dups" -> (NorthStar.ngramJaccardNearDups _),
    "d13_neardup_clusters"   -> ((s, dir) => sharedClusters(s, dir).orderBy("doc_id")),
    "d14_corpus_clean"       -> (NorthStar.corpusClean _),
    "d15_group_minhash"      -> ((s, dir) => NorthStar.groupMinhash(s, dir)),
    "d16_train_split"        -> (NorthStar.trainSplit _),
    "d17_token_chunks"       -> ((s, dir) => NorthStar.tokenChunks(s, dir)),
    "d18_decontamination"    -> ((s, dir) => NorthStar.decontamination(s, dir)),
    // d43: the published decontamination rule — overlap FRACTION in
    // basis points with planted true contamination firing the flag.
    "d43_decontamination_fraction" ->
      ((s, dir) => NorthStar.decontaminationFraction(s, dir)),
    // d44: Gopher-style rule-based quality gate — per-doc bitmask of
    // failed published rules + keep verdict, all integer-exact.
    "d44_gopher_rules"       -> (NorthStar.gopherRules _),
    // d45: C4-style line-granular cleaning rules over a
    // deterministically line-structured page (plant-then-recover:
    // the fixture is single-line, so the construction is part of the
    // certified contract — see NorthStar.c4Rules).
    "d45_c4_rules"           -> (NorthStar.c4Rules _),
    // d46: SemDeDup — sign-cell clustering + within-cell quantized
    // cosine + greedy min-id keep; whole chain re-derived by the
    // oracle including the hot-cell guard.
    "d46_semantic_dedup"     -> ((s, dir) => NorthStar.semanticDedup(s, dir)),
    // d47: cross-table fuzzy join (prefix-filtered R-S route) —
    // planted queries vs the corpus; oracle is the exhaustive cross
    // join, certifying the prefix route's exact recall on R-S.
    "d47_fuzzy_join"         -> (NorthStar.fuzzyJoinPlanted _),
    // d48: minimal 99%-coverage vocabulary + per-doc UNK rates — the
    // vocab-size decision query; integer-exact prefix rule.
    "d48_vocab_coverage"     -> ((s, dir) => NorthStar.vocabCoverage(s, dir)),
    // d49: near-dup-safe split — the split key is the d13 cluster id,
    // so planted pairs can never straddle train and eval.
    "d49_group_split"        -> ((s, dir) =>
      NorthStar.groupAwareSplitFrom(sharedClusters(s, dir), s, dir)),
    "d19_stratified_sample"  -> ((s, dir) => NorthStar.stratifiedSample(s, dir)),
    "d20_line_dedup"         -> (NorthStar.lineDedupClean _),
    "d21_repetition_signals" -> (NorthStar.repetitionSignals _),
    "d22_sequence_packing"   -> ((s, dir) => NorthStar.packSequences(s, dir)),
    "d23_pii_scrub"          -> (NorthStar.piiScrub _),
    "d24_url_domain_filter"  -> (NorthStar.urlDomainFilter _),
    "d25_dup_spans"          -> (NorthStar.dupSpans _),
    "d26_mixture_sample"     -> (NorthStar.mixtureSample _),
    "d27_cluster_reps"       -> ((s, dir) =>
      NorthStar.clusterRepresentativesFrom(sharedClusters(s, dir), s, dir)),
    "d30_shard_manifest"     -> (NorthStar.shardManifest _),
    "d34_shard_append"       -> (NorthStar.shardAppendManifest _),
    "d31_temperature_mix"    -> (NorthStar.temperatureMixture _),
    "d35_containment_pairs"  -> (NorthStar.containmentNearDups _),
    "d36_weighted_sample"    -> ((s, dir) => NorthStar.weightedSample(s, dir)),
    "d37_edit_distance_pairs" -> (NorthStar.editDistanceNearDups _),
    "d32_bpe_pairs"          -> (NorthStar.bpePairCounts _),
    "d38_bpe_vocab"          -> (NorthStar.bpeTrainMerges _),
    "d39_bpe_symbols"        -> (NorthStar.bpeSymbols _),
    "d40_bpe_encode"         -> (NorthStar.bpeEncodeCounts _),
    // d41: SemDeDup-shaped semantic-cell capped sampling — projection
    // sign cells + portable per-cell uniform cap through the
    // bounded-heap TopKPerKey; dense regions capped, sparse kept.
    "d41_semantic_sample"    -> ((s, dir) => NorthStar.semanticSample(s, dir)),
    "d33_perplexity_filter"  -> (NorthStar.perplexityFilter _),
    // d42: DSIR-shaped hashed-feature importance scoring toward the
    // corpus' English slice; integer micro-nat model, binary features.
    "d42_dsir_importance"    -> ((s, dir) => NorthStar.dsirImportance(s, dir)),
    "r01_bm25_topk"          -> (NorthStar.bm25TopK _),
    "r02_tfidf_keywords"     -> (NorthStar.tfidfKeywords _),
    // r03: hybrid retrieval — BM25 + vector rankings fused by
    // integer-exact reciprocal rank; both chains recomputed from
    // scratch by the oracle.
    "r03_hybrid_rrf"         -> (NorthStar.hybridRrf _),
    "g01_pagerank"           -> (NorthStar.pageRankSuppliers _),
    // g02: per-part triangle counts on the co-order graph. The Spark
    // side counts via degree-ordered orientation (O(m^1.5) wedge
    // bound, skew-proof); the oracle recounts with the canonical
    // id-ordered 3-way join — algorithm-independent agreement.
    "g02_triangle_counts"    -> ((s, dir) =>
      NorthStar.triangleCoOrderFrom(sharedCoOrderEdges(s, dir))),
    // g03: communities via 4 deterministic synchronous LPA rounds on
    // the same co-order graph; oracle unrolls the loop round by round.
    "g03_label_propagation"  -> ((s, dir) =>
      NorthStar.lpaCoOrderFrom(sharedCoOrderEdges(s, dir))),
    // g04: multi-source BFS distances (≤ 3 hops, min-seed tiebreak)
    // on the same memoized co-order edges; oracle unrolls the levels.
    "g04_bfs_distances"      -> ((s, dir) =>
      NorthStar.bfsCoOrderFrom(sharedCoOrderEdges(s, dir))),
    // g05: bounded k-core peel (3 rounds, scale-free p10-quantile
    // threshold from the degree histogram) on the same memoized
    // co-order edges; oracle unrolls the peel round by round.
    "g05_kcore"              -> ((s, dir) =>
      NorthStar.kcoreCoOrderFrom(sharedCoOrderEdges(s, dir))),
    // g06: WEIGHTED PageRank — rank mass divided proportionally to
    // shared-order count; rides the same memoized weighted edges.
    "g06_weighted_pagerank"  -> ((s, dir) =>
      NorthStar.weightedPageRankCoOrderFrom(sharedCoOrderEdges(s, dir))),
    "v01_knn_brute_force"    -> (NorthStar.knnBruteForce _),
    "v02_ann_top_k"          -> (NorthStar.annTopK _),
    "v03_embedding_near_dups" -> (NorthStar.embeddingNearDups _),
    "v04_ann_ivf"            -> (NorthStar.ivfTopK _),
    "v05_embedding_clusters" -> (NorthStar.embeddingClusters _),
    "v06_ivf_exact"          -> (NorthStar.ivfExactTopK _),
    "v07_lsh_exact"          -> (NorthStar.annExactTopK _),
    "v08_ivf_saved"          -> (NorthStar.ivfSavedTopK _),
    "v09_int8_knn"           -> (NorthStar.int8Knn _),
    "v10_ivf_int8"           -> (NorthStar.ivfInt8Knn _),
    "v11_ivf_append"         -> (NorthStar.ivfAppendTopK _),
    "v12_ivf_delete"         -> (NorthStar.ivfDeleteTopK _),
    "v13_random_projection"  -> (NorthStar.randomProjectionUnits _),
    "v14_ivf_compact"        -> (NorthStar.ivfCompactTopK _),
    "v15_ivf_pq"             -> (NorthStar.ivfPqTopK _),
    "v16_ivfpq_saved"        -> (NorthStar.ivfPqSavedTopK _),
    "v17_filtered_ann"       -> (NorthStar.filteredAnnTopK _),
    // v18: PQ search + exact rerank of the candidate set — certified
    // at 0.75 (vs ADC's 0.6): rerank recovers ADC's ranking errors.
    "v18_pq_rerank"          -> (NorthStar.ivfPqRerankTopK _),
    // v19: exact maximum-inner-product top-k — fully oracle-able
    // (positional dot, no norm divide, 1e-4 quantization).
    "v19_mips"               -> (NorthStar.mipsExact _),
    // v20: MIPS→cosine order-preserving augmentation over the
    // asymmetric sign-LSH index, recall@5-certified against v19.
    "v20_mips_ann"           -> (NorthStar.mipsAnnCertified _),
    // v21: radius (range) search — all neighbors within a cosine
    // radius of each query; broadcast scan = the production plan for
    // a bounded query set, exact ⇒ fully oracled, no certificate.
    "v21_range_search"       -> (NorthStar.rangeSearchQuery _),
    // v22/v23: PQ index MAINTENANCE — appendPq against the frozen
    // model, then the full append×2 → deletePq → compactPq lifecycle;
    // each carries an exact multiset-equivalence certificate against
    // a one-shot re-encode (stronger than recall) plus the recall bar.
    "v22_pq_append"          -> (NorthStar.ivfPqAppendTopK _),
    "v23_pq_lifecycle"       -> (NorthStar.ivfPqLifecycleTopK _),
    "v24_pq_drift_monitor"   -> (NorthStar.ivfPqDriftMonitor _),
    // Format round-trips (write THROUGH the format, read back, query
    // the read-back side): ORC / JSON / CSV / partitioned parquet.
    "io01_orc_roundtrip"     -> (graft.sources.Formats.orcRoundtripAgg _),
    "io02_json_roundtrip"    -> (graft.sources.Formats.jsonRoundtripOrders _),
    "io03_partitioned_prune" -> (graft.sources.Formats.partitionedEventsPrune _),
    "io04_csv_roundtrip"     -> (graft.sources.Formats.csvRoundtripCustomer _),
    "io05_zorder_cluster"    -> (graft.sources.Formats.zorderClusterEvents _),
    // io07: zone-map file skipping — a range scan served through the
    // per-file min/max index; pruned path ≡ full-scan filter.
    "io07_zonemap_prune"     -> (graft.sources.Formats.zoneMapPrunedEvents _),
    // io08: per-file bloom sidecar serving point lookups on a
    // hash-distributed layout; pruned reads ≡ the plain IN filter.
    "io08_bloom_point"       -> (graft.sources.Formats.bloomPointEvents _),
    // io09: NATIVE parquet bloom filters (format-internal row-group
    // pruning on a hash layout); footer + pushdown pinned in spec.
    "io09_parquet_bloom"     -> (graft.sources.Formats.parquetBloomPointOrders _),
    // io10: partition evolution — the layout belongs to the version;
    // the partitioned re-commit is content-identical (p01 oracle) and
    // prunes on the partition column (plan-pinned).
    "io10_partition_evolution" -> ((s, _) => cocoaPartitionEvolution(s)),
    // io11-io13/p24/s18: the DataSource V2 connector — snapshot reads
    // (format + versionAsOf), native SQL VERSION AS OF via the
    // TableCatalog, SQL INSERT upserts, and the streamed change feed.
    "io11_dsv2_read"         -> ((s, _) => cocoaDsv2Read(s)),
    "io12_dsv2_time_travel"  -> ((s, _) => cocoaDsv2TimeTravel(s)),
    "io13_sql_time_travel"   -> ((s, _) => cocoaSqlTimeTravel(s)),
    "io14_dsv2_zonemap"      -> ((s, _) => cocoaDsv2ZoneMap(s)),
    "io15_dsv2_runtime_prune" -> ((s, _) => cocoaDsv2RuntimePrune(s)),
    // io16: AGGREGATE PUSHDOWN through the connector — COUNT/MIN/MAX
    // answered from parquet FOOTER STATS at scan level (zero data
    // pages read; the require inside refuses a plan that did not
    // push). At 100 TB this is the difference between a metadata read
    // and a full-table scan for the most common dashboard queries.
    "io16_dsv2_agg_pushdown" -> ((s, _) => cocoaAggPushdown(s)),
    // io06: additive schema evolution — two physical generations
    // reconciled by name on read; old files surface the new column
    // as null without a byte rewritten.
    "io06_schema_evolution"  -> (graft.sources.Formats.schemaEvolutionOrders _),
    "m01_multimodal_features" -> (NorthStar.multimodalFeatures _),
    "m02_frame_samples"      -> (NorthStar.frameSamples _),
    "m03_thumbnails"         -> (NorthStar.thumbnails _),
    "m04_binary_asset_source" -> ((s, dir) =>
      graft.multimodal.Multimodal.binaryAssetSource(s, dir)),
    "m05_video_metadata"     -> ((s, dir) =>
      graft.multimodal.Multimodal.videoMetadata(s, dir)),
    // m06: PCM sample-level audio stats — real Int16 LE decode behind
    // the RIFF walk; every stat re-derived by the oracle from the
    // waveform generator formula.
    "m06_audio_pcm_stats"    -> ((s, dir) =>
      graft.multimodal.Multimodal.audioPcmStats(s, dir)),
    // m07: EXIF metadata — real APP1/TIFF IFD walk in both byte
    // orders, ISO reached through the Exif sub-IFD pointer.
    "m07_exif_metadata"      -> ((s, dir) =>
      graft.multimodal.Multimodal.exifMetadata(s, dir)),
    // m08: ID3v2.3 + MPEG-1 Layer III metadata — real tag walk
    // (syncsafe size, text frames) + frame-header bit decode.
    "m08_audio_tags"         -> ((s, dir) =>
      graft.multimodal.Multimodal.audioTagMetadata(s, dir)),
    // m09: PNG tEXt caption/provenance chunks — CRC-verified chunk
    // walk; torn chunks poison the parse rather than read as absent.
    "m09_png_captions"       -> ((s, dir) =>
      graft.multimodal.Multimodal.pngTextMetadata(s, dir)),
  )

  /** A cross-query memo that [[resetMemos]] clears. Every memo built
    * here registers itself, so a new memo cannot be left out of the
    * reset; `release` frees what an entry holds outside the map (cached
    * blocks) before the entry is dropped. */
  private final class Memo[K, V](release: V => Unit = (_: V) => ()) {
    private val m = new java.util.concurrent.ConcurrentHashMap[K, V]()
    memos.add(this)
    def apply(k: K)(compute: K => V): V = m.computeIfAbsent(k, k2 => compute(k2))
    def get(k: K): V = m.get(k)
    def put(k: K, v: V): Unit = m.put(k, v)
    def size: Int = m.size
    def clear(): Unit = { m.values().forEach(v => release(v)); m.clear() }
  }

  private val memos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_, _]]()

  /** End-to-end cocoa run (two overlapping generated batches through
    * ingest→enrich→merge) in a temp dir; deterministic seeds and
    * processed_at so repeated Verify runs hash identically. Memoized
    * per session: p01 and p02 share one pipeline execution (results
    * are deterministic, so reuse is observationally identical).
    *
    * Each batch's landing CSVs are also copied to a FIXED path before
    * processing: they are the pipeline's input artifact, and the
    * DuckDB oracle re-derives the expected warehouse from those exact
    * files (parse → enrich → keyed last-writer-wins merge in SQL) —
    * upgrading p01-p04 from rows-only checks to full hash-compared
    * pipeline oracles. */
  private val cocoaMemo = new Memo[SparkSession, DataFrame]

  /** d13 and d27 run the SAME pair-graph + connected-components
    * computation over the planted corpus (d27 is a cheap retention
    * epilogue on top); at verify/bench time each used to re-pay the
    * exhaustive pair stage independently (~8 s of bench wall at
    * sf0.1). Memoize the COLLECTED cluster assignment per
    * (session, dir) — the cocoaMemo pattern: a deterministic,
    * fixture-level intermediate whose reuse is observationally
    * identical. Collected rows (not a cached frame) because Verify
    * and Bench clearCache() between queries; the membership frame is
    * one row per doc in a ≥ threshold pair, tiny by construction on
    * anything but a duplicate-saturated corpus. The OPERATORS stay
    * independent: NorthStar.nearDupClusters / clusterRepresentatives
    * still compute end-to-end for library users; d14's pair stage is
    * NOT shared — it runs on the post-gate survivor set, and its
    * hot-shingle cap (maxPosting) could prune differently over the
    * full corpus than over the survivors. */
  private val clustersMemo = new Memo[
    (SparkSession, String),
    (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row])]

  /** Driver-memory ceiling for the memoized cluster assignment. The
    * assignment is one row per doc in a ≥ threshold pair — tiny on any
    * realistic corpus — but a duplicate-SATURATED corpus makes it one
    * row per doc, and collecting that to the driver unbounded is the
    * classic silent OOM. Above the ceiling we skip the memo and serve
    * the operator's own cached frame directly: d27 then re-pays the
    * pair stage, which is the correct trade (slower, never fatal). */
  private val clustersMemoMaxRows = 1000000L

  /** Crude map-size bound: the memo key is (session, dir) and entries
    * were never evicted; a long-lived session touching many corpus
    * dirs would accrete one collected assignment per dir. Eight
    * distinct (session, dir) pairs is far above what one verify/bench
    * round touches, so wholesale clear at the bound is simpler and
    * safer than LRU bookkeeping. */
  private val clustersMemoMaxEntries = 8

  private def sharedClusters(spark: SparkSession, dir: String): DataFrame = {
    val cached = clustersMemo.get((spark, dir))
    if (cached != null) {
      spark.createDataFrame(java.util.Arrays.asList(cached._2: _*), cached._1)
    } else {
      val df = NorthStar.nearDupClustersFrame(spark, dir)
      // CC returns a cached, fully-materialized handle, so this count
      // is free; gate the driver-side collect on it.
      if (df.count() <= clustersMemoMaxRows) {
        val collected = df.collect()
        df.unpersist() // the memo replaces the cached handle
        if (clustersMemo.size >= clustersMemoMaxEntries) clustersMemo.clear()
        clustersMemo.put((spark, dir), (df.schema, collected))
        spark.createDataFrame(java.util.Arrays.asList(collected: _*), df.schema)
      } else df // duplicate-saturated corpus: no driver copy, no memo
    }
  }

  /** Drop every [[Memo]] (the cocoa pipeline runs, the shared cluster
    * assignment, the co-order edges). Bench calls this between suite
    * passes so pass N pays exactly the work pass 1 paid and the
    * per-query minima stay comparable round-over-round; without it a
    * second pass of p01/s04/d13 measures a memo lookup, not the
    * pipeline. Not part of the library surface. */
  def resetMemos(): Unit = memos.forEach(_.clear())

  /** Shared checkpointed co-order edge list: g02 and g03 run over the
    * SAME derived graph, and the derivation (lineitem self-join +
    * distinct) is the expensive half of either query — one pass pays
    * it once (the d13/d27 harness-level sharing pattern). A bounded
    * handle: O(edges) in the block manager, dropped by resetMemos —
    * which unpersists it, since dropping the eagerly localCheckpointed
    * handle alone would strand its blocks until the ContextCleaner GCs
    * the DataFrame. */
  private val coOrderEdgesMemo =
    new Memo[(SparkSession, String), DataFrame](_.unpersist(false))

  private def sharedCoOrderEdges(spark: SparkSession, dir: String): DataFrame =
    coOrderEdgesMemo((spark, dir))(
      _ => NorthStar.coOrderEdges(spark, dir).localCheckpoint(true))

  /** Warehouse root of the memoized pipeline run — lets p05 time-travel
    * to an older committed snapshot of the SAME run p01 read. */
  private val cocoaDirsMemo = new Memo[SparkSession, CocoaPipeline.Dirs]

  private def cocoaWarehouse(spark: SparkSession): DataFrame =
    cocoaMemo(spark)(runCocoa)

  /** p05: TIME TRAVEL — read snapshot v0 (the batch-1 commit) after
    * batch 2 has already committed v1. The versioned-directory commit
    * protocol keeps every published snapshot immutable and readable,
    * the Postgres-transaction analogue the warehouse replaces. Time
    * travel is guaranteed within [[Warehouse.vacuum]]'s retention
    * floor (`keepLast`/`minAgeMs`); a version pruned past the floor
    * fails loudly at read rather than resolving elsewhere. Oracled
    * from batch 1's landing files alone. */
  private def cocoaTimeTravel(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // ensure the two-batch run committed v0, v1
    val dirs = cocoaDirsMemo.get(spark)
    spark.read.schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(dirs.warehouse, 0L))
      .orderBy("shipment_id")
  }

  /** p07: CDC between the run's two committed snapshots. Change
    * semantics and the one-join scale shape live in
    * [[Warehouse.diffFrames]]; every batch-2 overlap key surfaces as
    * an `update` (its LWW winner carries batch 2's processed_at), the
    * new id range as `insert`s, and this append-only pipeline yields
    * zero `delete`s — the oracle proves all three classes, the third
    * by absence. */
  private def cocoaVersionDiff(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // ensure v0 and v1 are committed
    val dirs = cocoaDirsMemo.get(spark)
    Warehouse.diff(spark, dirs.warehouse, 0L, 1L).orderBy("shipment_id")
  }

  /** p08: land the memoized warehouse fragmented in a fresh root,
    * compact, read the compacted version. Isolated root: the shared
    * memoized warehouse's version history (p01/p05/p07 contracts)
    * must not grow a v2 under other queries' feet. */
  private def cocoaCompacted(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_compact_wh_", keep = 32)
    Warehouse.commit(spark, root, wh.repartition(16))
    val v = Warehouse.compact(spark, root).get
    spark.read.schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, v))
      .orderBy("shipment_id")
  }

  /** p12: land the memoized warehouse as a fresh 8-file snapshot, run
    * two cumulative merge-on-read deletes (a quality cut, then a
    * region takedown — the second evaluated on the LIVE view with the
    * first's DV already applied), and read the snapshot with both
    * deletion vectors applied. Isolated root, as with p08: the shared
    * warehouse's version history must not change under other gates.
    * Delete semantics are SQL DELETE's: rows where the predicate is
    * TRUE go; FALSE and NULL stay — the oracle mirrors this with
    * WHERE NOT coalesce(pred, FALSE). */
  private def cocoaDvDeleted(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_dv_wh_", keep = 32)
    Warehouse.commit(spark, root, wh.repartition(8))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    Warehouse.deleteWhere(spark, root, col("region") === lit("Volta"))
    Warehouse.readWithDv(spark, root).orderBy("shipment_id")
  }

  /** p29: the p12 warehouse state (8-file snapshot, two cumulative
    * DV deletes) read back through `format("graft")` — the connector's
    * merge-on-read DV scan must serve exactly the live rows the
    * Scala-API [[Warehouse.readWithDv]] serves (and p12's oracle
    * certifies against DuckDB). */
  private def cocoaDvConnectorRead(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_dv_conn_wh_", keep = 32)
    Warehouse.commit(spark, root, wh.repartition(8))
    Warehouse.deleteWhere(spark, root, col("quality_score") < lit(8.0))
    Warehouse.deleteWhere(spark, root, col("region") === lit("Volta"))
    spark.read.format("graft").load(root)
      .select(graft.pipeline.CocoaSchema.warehouse.fieldNames.map(col).toSeq: _*)
      .orderBy("shipment_id")
  }

  /** p30: SQL rename lifecycle on an isolated catalog table — commit,
    * `ALTER TABLE … RENAME COLUMN quality_score TO grade` (metadata
    * only), connector upsert of every Criollo row re-graded to 9.99
    * under the logical name, then the catalog read. The oracle
    * recomputes the same truth with a CASE over the derived warehouse. */
  private def cocoaRenamedSqlLifecycle(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = graft.core.RunTemp.dir("graft_ren_sql_", keep = 32)
    val root = s"$base/cocoa_ren"
    Warehouse.commit(spark, root, wh.repartition(4))
    spark.conf.set("spark.sql.catalog.graft_ren_gate",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ren_gate.base", base)
    spark.sql(
      "ALTER TABLE graft_ren_gate.cocoa_ren RENAME COLUMN quality_score TO grade")
    val upd = wh.filter(col("bean_type") === lit("Criollo"))
      .withColumnRenamed("quality_score", "grade")
      .withColumn("grade", lit(9.99))
    upd.write.format("graft").mode("append").save(root)
    spark.sql("SELECT * FROM graft_ren_gate.cocoa_ren").orderBy("shipment_id")
  }

  /** p31: merge-on-read SQL DELETE on an isolated catalog table —
    * declared via TBLPROPERTIES, issued as plain SQL, landed as
    * deletion vectors. The requires pin the merge-on-read mechanics
    * (no version bump, DV sidecar present) INSIDE the gate so a
    * silent fallback to copy-on-write fails the row, not just a
    * spec. */
  private def cocoaSqlMorDelete(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = graft.core.RunTemp.dir("graft_mor_del_", keep = 32)
    val root = s"$base/cocoa_mor"
    Warehouse.commit(spark, root, wh.repartition(8))
    graft.sources.v2.GraftCatalog.writeProps(
      graft.sources.v2.GraftTables.fs(spark, root), root,
      Map("deleteMode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft_mor_gate",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mor_gate.base", base)
    spark.sql("DELETE FROM graft_mor_gate.cocoa_mor" +
      " WHERE quality_score < 8.0 OR region = 'Volta'")
    require(Warehouse.currentVersion(spark, root) == Some(0L),
      "p31: merge-on-read delete must not publish a version")
    require(graft.sources.v2.GraftTables.fs(spark, root).exists(
      new org.apache.hadoop.fs.Path(Warehouse.dvPath(root, 0L))),
      "p31: expected a deletion-vector sidecar")
    spark.sql("SELECT * FROM graft_mor_gate.cocoa_mor").orderBy("shipment_id")
  }

  /** p33: MANIFEST APPEND — O(Δ) insert. The warehouse lands as two
    * disjoint halves: half one as a plain 4-file snapshot, half two
    * via [[Warehouse.appendFiles]], which writes ONLY the new rows and
    * publishes a `_MANIFEST` carrying every v0 file by reference (the
    * zero-copy conversion into manifest mode). The requires pin the
    * O(Δ) claim INSIDE the gate — all four v0 files carried, no
    * rewrite — so a silent fallback to whole-snapshot copy-on-write
    * fails the row, not just a spec. Oracle: the full warehouse. */
  private def cocoaManifestAppend(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_app_", keep = 32)
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.commit(spark, root,
      wh.filter(half).repartitionByRange(4, col("shipment_id")))
    val v1 = Warehouse.appendFiles(spark, root, wh.filter(!half))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m = Warehouse.manifestOf(fs, root, v1).getOrElse(
      throw new IllegalStateException("p33: append must publish a manifest"))
    require(m.count(_.startsWith("v0/")) == 4,
      s"p33: every v0 file must ride by reference, got $m")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p34: FILE-GRANULAR DELETE — [[Warehouse.deleteWhereFiles]] on a
    * quality-range-clustered 4-file snapshot rewrites ONLY the files
    * holding predicate matches; the require pins that at least one
    * file rode by reference (a whole-snapshot rewrite carries none).
    * SQL three-valued semantics: TRUE goes, FALSE and NULL stay —
    * same truth as p12's merge-on-read twin. */
  private def cocoaManifestDelete(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_del_", keep = 32)
    Warehouse.commit(spark, root,
      wh.repartitionByRange(4, col("quality_score")))
    val v = Warehouse.deleteWhereFiles(spark, root,
      col("quality_score") < lit(8.0)).getOrElse(
      throw new IllegalStateException("p34: the delete must match rows"))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m = Warehouse.manifestOf(fs, root, v).get
    require(m.exists(_.startsWith("v0/")),
      s"p34: a range-clustered delete must carry untouched files, got $m")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p35: FILE-GRANULAR UPDATE — `SET region = 'Reprocessed' WHERE
    * quality_score < 8.0` through [[Warehouse.updateWhereFiles]] on
    * the same clustered layout; untouched files carried by reference
    * (pinned), cardinality unchanged, oracle recomputes the CASE. */
  private def cocoaManifestUpdate(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_upd_", keep = 32)
    Warehouse.commit(spark, root,
      wh.repartitionByRange(4, col("quality_score")))
    val v = Warehouse.updateWhereFiles(spark, root,
      col("quality_score") < lit(8.0),
      Map("region" -> lit("Reprocessed"))).getOrElse(
      throw new IllegalStateException("p35: the update must match rows"))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m = Warehouse.manifestOf(fs, root, v).get
    require(m.exists(_.startsWith("v0/")),
      s"p35: a range-clustered update must carry untouched files, got $m")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p36: FILE-GRANULAR MERGE (source-wins upsert). Source = every
    * Criollo row re-graded to 9.99 (updates) plus every Volta row
    * duplicated under `shipment_id || '_new'` (inserts); only files
    * containing a source key are rewritten — on a shipment-id-range
    * layout the requires pin carried files AND that at least one file
    * was rewritten. Oracle recomputes the upsert with set algebra. */
  private def cocoaManifestMerge(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_mrg_", keep = 32)
    Warehouse.commit(spark, root,
      wh.repartitionByRange(4, col("shipment_id")))
    // updates confined to the LOW id range so the id-range-clustered
    // layout provably leaves key-free files untouched; inserts' new
    // ids ("…_new") match no existing key by construction
    val updates = wh.filter(col("bean_type") === lit("Criollo") &&
        col("shipment_id") < lit("SHIP-0000000100"))
      .withColumn("quality_score", lit(9.99))
    val inserts = wh.filter(col("region") === lit("Volta"))
      .withColumn("shipment_id", concat(col("shipment_id"), lit("_new")))
    val v = Warehouse.mergeFiles(spark, root, updates.unionByName(inserts))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m = Warehouse.manifestOf(fs, root, v).get
    require(m.exists(_.startsWith("v0/")) && m.exists(_.startsWith(s"v$v/")),
      s"p36: a keyed merge must rewrite touched files and carry the rest, got $m")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p38: HIVE PARTITIONING × MANIFEST COMMITS — the round-13
    * composition (until now mutually exclusive: requireManifestable
    * refused partitioned layouts). Seed = half the warehouse as a
    * plain region-partitioned snapshot; [[Warehouse.appendFiles]]
    * converts zero-copy (every partition file carried by reference,
    * fragments intact, `_MANIFEST_PARTS` persisted — REQUIRED);
    * [[Warehouse.deleteWhereFiles]] cuts `region='Volta' AND
    * quality<8.0` rewriting only Volta files (non-Volta lines carried
    * VERBATIM — required); and a live partition-PRUNING pin: a
    * Volta-only connector read must bump the planning skip counter
    * ([[graft.sources.v2.ZoneMapFileIndex.filesPruned]], shared by
    * [[graft.sources.v2.ManifestFileIndex]]) — a silent fall-back to
    * scanning every partition fails the row, not just a spec. */
  private def cocoaPartitionedManifest(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_part_", keep = 32)
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.commitPartitioned(spark, root, wh.filter(half), Seq("region"))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val v0Files = Warehouse.dataFilesOf(spark, root, 0L)
    require(v0Files.nonEmpty && v0Files.forall(_.contains("region=")),
      "p38: the seed must be hive-partitioned")
    val v1 = Warehouse.appendFiles(spark, root, wh.filter(!half))
    val m1 = Warehouse.manifestOf(fs, root, v1).getOrElse(
      throw new IllegalStateException(
        "p38: the append must publish a manifest"))
    require(m1.count(_.startsWith("v0/region=")) == v0Files.size,
      s"p38: every partitioned v0 file must ride by reference, got $m1")
    require(Warehouse.manifestParts(fs, root, v1) == Seq("region"),
      "p38: _MANIFEST_PARTS must persist the partition columns")
    val v2 = Warehouse.deleteWhereFiles(spark, root,
      col("region") === lit("Volta") && col("quality_score") < lit(8.0))
      .getOrElse(throw new IllegalStateException(
        "p38: the delete must match rows"))
    val m2 = Warehouse.manifestOf(fs, root, v2).get
    val nonVolta = m1.filterNot(_.contains("region=Volta"))
    require(nonVolta.forall(m2.contains),
      s"p38: every non-Volta file must ride the delete VERBATIM, got $m2")
    // live partition-pruning pin: planning the Volta-only read must
    // skip files of other partitions (counter increments at planning)
    val prunedBefore = graft.sources.v2.ZoneMapFileIndex.filesPruned.sum()
    val volta = spark.read.format("graft").load(root)
      .filter(col("region") === lit("Volta")).count()
    require(graft.sources.v2.ZoneMapFileIndex.filesPruned.sum() > prunedBefore,
      "p38: a region-filtered read must PRUNE other partitions' files at planning")
    require(volta > 0, "p38: the surviving Volta partition must not be empty")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p40: OPTIMIZE for manifest tables ([[Warehouse.optimizeFiles]],
    * the Delta OPTIMIZE shape) — the mechanism that BOUNDS manifest
    * metadata growth: a churny append stream (here one big file plus
    * four single-file appends) accumulates O(commits) manifest lines;
    * optimize bin-packs the small files into few right-sized ones
    * while every already-right-sized file rides by reference and the
    * table STAYS in manifest mode (compact, the other valve, would
    * give up O(Δ) DML). The fold, the verbatim carry of the big file,
    * and the surviving manifest mode are all REQUIRED in-gate; the
    * oracle certifies the content is untouched. */
  private def cocoaManifestOptimize(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_manifest_opt_", keep = 32)
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.appendFiles(spark, root, wh.filter(half).coalesce(1))
    (0 until 4).foreach(i => Warehouse.appendFiles(spark, root,
      wh.filter(!half)
        .filter(expr("pmod(crc32(shipment_id), 4)") === lit(i))
        .coalesce(1)))
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val cur = Warehouse.currentVersion(spark, root).get
    val before = Warehouse.manifestOf(fs, root, cur).getOrElse(
      throw new IllegalStateException("p40: the churn must be manifest-mode"))
    require(before.size == 5,
      s"p40: expected 5 accumulated files, got ${before.size}")
    val bigBytes = Warehouse.dataFileEntries(spark, root, cur).map(_._2).max
    val bigLine = before.maxBy(_.split("\t")(1).toLong)
    val v = Warehouse.optimizeFiles(spark, root,
      smallFileBytes = bigBytes).getOrElse(
      throw new IllegalStateException("p40: optimize must pack the small files"))
    val after = Warehouse.manifestOf(fs, root, v).getOrElse(
      throw new IllegalStateException(
        "p40: optimize must STAY in manifest mode"))
    require(after.size < before.size,
      s"p40: optimize must FOLD the manifest, ${before.size} -> ${after.size}")
    require(after.contains(bigLine),
      "p40: the right-sized file must ride by reference, VERBATIM")
    Warehouse.read(spark, root).orderBy("shipment_id")
  }

  /** p41: DELETION VECTORS × MANIFEST COMMITS through plain SQL — the
    * round-13 closing of the composition matrix: a table that opted
    * into BOTH `commitMode=manifest` (O(Δ) DML) and
    * `deleteMode=merge-on-read` (O(matched) deletes). The INSERT
    * converts zero-copy; the DELETE attaches an in-place vector keyed
    * by the ROOT-relative path (manifest files span version dirs) —
    * REQUIRED in-gate: no version bump, the manifest lines untouched,
    * a `_dv` sidecar present. The SELECT serves the live rows through
    * the merge-on-read scan over the manifest's own file list (zero
    * listing). Same truth as p31's plain-table twin. */
  private def cocoaManifestDvDelete(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = graft.core.RunTemp.dir("graft_manifest_mor_", keep = 32)
    val root = s"$base/cocoa_mmor"
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.commit(spark, root,
      wh.filter(half).repartitionByRange(4, col("shipment_id")))
    graft.sources.v2.GraftCatalog.writeProps(
      graft.sources.v2.GraftTables.fs(spark, root), root,
      Map("mergeKey" -> "shipment_id", "commitMode" -> "manifest",
        "deleteMode" -> "merge-on-read"))
    spark.conf.set("spark.sql.catalog.graft_mmor_gate",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mmor_gate.base", base)
    wh.filter(!half).createOrReplaceTempView("graft_mmor_gate_src")
    spark.sql("INSERT INTO graft_mmor_gate.cocoa_mmor" +
      " SELECT * FROM graft_mmor_gate_src")
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m1 = Warehouse.manifestOf(fs, root, 1L).getOrElse(
      throw new IllegalStateException(
        "p41: the INSERT must publish a manifest version"))
    spark.sql("DELETE FROM graft_mmor_gate.cocoa_mmor" +
      " WHERE quality_score < 8.0 OR region = 'Volta'")
    require(Warehouse.currentVersion(spark, root) == Some(1L),
      "p41: a merge-on-read delete must not publish a version")
    require(Warehouse.manifestOf(fs, root, 1L).get == m1,
      "p41: the manifest must be untouched — the DV is the only new state")
    require(fs.exists(new org.apache.hadoop.fs.Path(
      Warehouse.dvPath(root, 1L))),
      "p41: expected a deletion-vector sidecar")
    spark.sql("SELECT * FROM graft_mmor_gate.cocoa_mmor")
      .orderBy("shipment_id")
  }

  /** p37: the MANIFEST lifecycle through plain SQL — commit half the
    * warehouse, declare `commitMode=manifest`, INSERT the other half
    * (file-granular upsert, zero-copy conversion), DELETE the quality
    * cut (file-granular), read through the catalog. The requires pin
    * BOTH statements landed as manifest versions with carried
    * references; the oracle recomputes the surviving truth. */
  private def cocoaSqlManifestLifecycle(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = graft.core.RunTemp.dir("graft_manifest_sql_", keep = 32)
    val root = s"$base/cocoa_mf"
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.commit(spark, root,
      wh.filter(half).repartitionByRange(4, col("shipment_id")))
    graft.sources.v2.GraftCatalog.writeProps(
      graft.sources.v2.GraftTables.fs(spark, root), root,
      Map("mergeKey" -> "shipment_id", "commitMode" -> "manifest"))
    spark.conf.set("spark.sql.catalog.graft_mf_gate",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mf_gate.base", base)
    wh.filter(!half).createOrReplaceTempView("graft_mf_gate_src")
    spark.sql("INSERT INTO graft_mf_gate.cocoa_mf" +
      " SELECT * FROM graft_mf_gate_src")
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m1 = Warehouse.manifestOf(fs, root, 1L).getOrElse(
      throw new IllegalStateException(
        "p37: a commitMode=manifest INSERT must publish a manifest version"))
    require(m1.count(_.startsWith("v0/")) == 4,
      s"p37: the INSERT must carry every seed file by reference, got $m1")
    spark.sql("DELETE FROM graft_mf_gate.cocoa_mf WHERE quality_score < 8.0")
    val m2 = Warehouse.manifestOf(fs, root, 2L).getOrElse(
      throw new IllegalStateException(
        "p37: a manifest-mode DELETE must publish a manifest version"))
    require(m2.toSet.intersect(m1.toSet).nonEmpty,
      s"p37: the DELETE must carry untouched files by reference, got $m2")
    spark.sql("SELECT * FROM graft_mf_gate.cocoa_mf").orderBy("shipment_id")
  }

  /** p39: RENAME COLUMN × MANIFEST COMMITS through plain SQL — the
    * round-13 composition twin of p38 (until now a rename atop a
    * manifest chain refused with compact as the valve). Seed = half
    * the warehouse plain + `commitMode=manifest`; INSERT the other
    * half (zero-copy conversion); `ALTER TABLE RENAME COLUMN region
    * TO zone` — REQUIRED to publish a manifest version carrying the
    * file list VERBATIM (metadata-only, zero data written, no clone
    * pointer); a post-rename SQL DELETE keyed on the LOGICAL name (scoped
    * to the quality half so the fresh files provably carry)
    * stays file-granular (carried lines required); time travel to the
    * pre-rename version REQUIRED to surface the old name. Oracle
    * recomputes the survivors with `region AS zone`. */
  private def cocoaManifestRename(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = graft.core.RunTemp.dir("graft_manifest_ren_", keep = 32)
    val root = s"$base/cocoa_mr"
    val half = coalesce(col("quality_score") < lit(8.8), lit(false))
    Warehouse.commit(spark, root,
      wh.filter(half).repartitionByRange(4, col("shipment_id")))
    graft.sources.v2.GraftCatalog.writeProps(
      graft.sources.v2.GraftTables.fs(spark, root), root,
      Map("mergeKey" -> "shipment_id", "commitMode" -> "manifest"))
    spark.conf.set("spark.sql.catalog.graft_mr_gate",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_mr_gate.base", base)
    wh.filter(!half).createOrReplaceTempView("graft_mr_gate_src")
    spark.sql("INSERT INTO graft_mr_gate.cocoa_mr" +
      " SELECT * FROM graft_mr_gate_src")
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val m1 = Warehouse.manifestOf(fs, root, 1L).getOrElse(
      throw new IllegalStateException(
        "p39: the INSERT must publish a manifest version"))
    spark.sql("ALTER TABLE graft_mr_gate.cocoa_mr" +
      " RENAME COLUMN region TO zone")
    val m2 = Warehouse.manifestOf(fs, root, 2L).getOrElse(
      throw new IllegalStateException(
        "p39: a rename atop a manifest chain must stay a manifest version" +
          " (metadata-only map commit), not force a compact"))
    require(m2 == m1,
      s"p39: the rename must carry the file list VERBATIM, got $m2")
    require(!fs.exists(new org.apache.hadoop.fs.Path(
      Warehouse.versionPath(root, 2L), "_CLONE")),
      "p39: a manifest rename needs no clone pointer")
    spark.sql("DELETE FROM graft_mr_gate.cocoa_mr" +
      " WHERE zone = 'Volta' AND quality_score < 8.0")
    val m3 = Warehouse.manifestOf(fs, root, 3L).getOrElse(
      throw new IllegalStateException(
        "p39: a post-rename DELETE must stay a manifest version"))
    require(m3.toSet.intersect(m2.toSet).nonEmpty,
      s"p39: the post-rename DELETE must carry untouched files, got $m3")
    // era-correct time travel: the pre-rename version keeps its names
    val v1cols = spark.sql(
      "SELECT * FROM graft_mr_gate.cocoa_mr VERSION AS OF 1").columns
    require(v1cols.contains("region") && !v1cols.contains("zone"),
      s"p39: era-v1 must surface the old name, got ${v1cols.mkString(", ")}")
    spark.sql("SELECT * FROM graft_mr_gate.cocoa_mr").orderBy("shipment_id")
  }

  /** p13: two-version isolated root (v0 = the run's batch-1 snapshot,
    * v1 = the full warehouse), then RESTORE to v0 — the rollback a
    * bad deploy needs. The result is the v2 the restore committed;
    * hash-matching p05's batch-1 oracle certifies content; history
    * stays forward-only (spec: v1 remains readable, pointer at 2). */
  private def cocoaRestored(spark: SparkSession): DataFrame = {
    val whFull = cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val v0 = spark.read.schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(dirs.warehouse, 0L))
    val root = graft.core.RunTemp.dir("graft_restore_wh_", keep = 32)
    Warehouse.commit(spark, root, v0)
    Warehouse.commit(spark, root, whFull)
    val v = Warehouse.restore(spark, root, 0L)
    spark.read.schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, v))
      .orderBy("shipment_id")
  }

  /** p15: shallow clone — the cocoa warehouse forked zero-copy into a
    * fresh root ([[Warehouse.cloneShallow]]); the read resolves
    * through the `_CLONE` pointer and must equal the source exactly. */
  private def cocoaCloned(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // build (memoized) source warehouse
    val dirs = cocoaDirsMemo.get(spark)
    val dst = graft.core.RunTemp.dir("graft_clone_wh_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, dst)
    Warehouse.read(spark, dst).orderBy("shipment_id")
  }

  /** p16: METADATA-ONLY COLUMN RENAME. Clone the memoized warehouse
    * (protecting the shared fixture), rename two columns — including
    * the reserved-word-shaped `timestamp` — as a zero-copy mapped
    * commit, and read under logical names. The p01-oracle hash with
    * aliased columns certifies both that the mapping applied and that
    * no byte of data moved; a second rename on the SAME root composes
    * maps (never stacks), exercised in WarehouseSpec. */
  private def cocoaRenamed(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val dst = graft.core.RunTemp.dir("graft_rename_wh_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, dst)
    Warehouse.renameColumns(spark, dst, Map(
      "shipment_value_usd" -> "trade_value_usd",
      "timestamp" -> "event_ts"))
    Warehouse.readMapped(spark, dst).orderBy("shipment_id")
  }

  /** p14: WRITE-AUDIT-PUBLISH. A poisoned copy of the warehouse
    * (every 5th shipment's quality nulled) is staged first and MUST
    * be rejected by the audit — then the clean snapshot commits under
    * the same checks. The query reads VERSION 0 explicitly, so if the
    * poisoned stage had published anything, v0 would hold nulls and
    * the p01-oracle hash would break; the match certifies both the
    * audit gate (bad data never became a version) and the pass-through
    * (auditing changed no byte of the good data). */
  private def cocoaWapPublished(spark: SparkSession): DataFrame = {
    import graft.operators.Audit.RowCheck
    val whFull = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_wap_wh_", keep = 32)
    val idNum = expr("CAST(substring(shipment_id, 6) AS BIGINT)")
    val poisoned = whFull.withColumn("quality_score",
      when(idNum % 5 === 0, lit(null).cast("double"))
        .otherwise(col("quality_score")))
    val checks = Seq(
      RowCheck("quality_not_null", col("quality_score").isNull),
      RowCheck("quality_in_range",
        col("quality_score") < 0.0 || col("quality_score") > 10.0),
      RowCheck("weight_positive", col("shipment_weight_kg") <= 0.0))
    val rejected =
      try { Warehouse.commitAudited(spark, root, poisoned, checks,
        Some(Seq("shipment_id"))); false }
      catch { case _: Warehouse.WapAuditException => true }
    require(rejected, "p14: the poisoned snapshot must fail its audit")
    Warehouse.commitAudited(spark, root, whFull, checks, Some(Seq("shipment_id")))
    spark.read.schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(root, 0L))
      .orderBy("shipment_id")
  }

  /** p10: publish the v1 change feed once (idempotent), read the
    * STORED rows back, and flatten pre/post images to p07's change
    * shape (inserts/updates carry the new row, deletes the old). The
    * hash match against p07's diff oracle certifies that what was
    * persisted is exactly the transition's change set. */
  private def cocoaChangeFeed(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // ensure v0 and v1 are committed
    val dirs = cocoaDirsMemo.get(spark)
    Warehouse.publishChangeFeed(spark, dirs.warehouse, 1L)
    val dataCols = graft.pipeline.CocoaSchema.warehouse.fieldNames.toSeq
      .filterNot(_ == "shipment_id")
    Warehouse.readChangeFeed(spark, dirs.warehouse, 1L)
      .withColumn("__row", coalesce(col("new_image"), col("old_image")))
      .select(col("shipment_id") +:
        dataCols.map(c => col(s"__row.`$c`").as(c)) :+ col("change_type"): _*)
      .orderBy("shipment_id")
  }

  /** p11: conditional MERGE INTO over the warehouse. The source is a
    * deterministic "re-inspection" batch derived from the warehouse
    * itself (so the oracle rebuilds it): every 3rd shipment re-graded
    * (+1.0 quality, stamp advanced 1h) and every 7th re-landed under
    * a new `-R` id. Clauses exercise all three actions AND the
    * null-condition rule (10% of temperatures are null → neither
    * delete nor update fires; the row keeps its target image):
    * re-grades pushing quality past 10.0 are culled, cool-chain rows
    * (< 22°C) take the update, non-Criollo new ids insert. */
  private def cocoaMergeInto(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val idNum = expr("CAST(substring(shipment_id, 6) AS BIGINT)")
    val upd = wh.filter(idNum % 3 === 0)
      .withColumn("quality_score", col("quality_score") + lit(1.0))
      .withColumn("processed_at", col("processed_at") + expr("INTERVAL 1 HOUR"))
    val ins = wh.filter(idNum % 7 === 0)
      .withColumn("shipment_id", concat(col("shipment_id"), lit("-R")))
    graft.pipeline.Merge.mergeInto(
      wh, upd.unionByName(ins), Seq("shipment_id"),
      matchedDelete = Some(col("s.quality_score") > 10.0),
      matchedUpdate = Some(col("s.temperature_celsius") < 22.0),
      notMatchedInsert = Some(col("s.bean_type") =!= "Criollo"))
      .orderBy("shipment_id")
  }

  /** p09: maintain v0's value-by-region aggregate to v1 using ONLY
    * the pre/post-image change feed between the snapshots — the
    * incremental twin of p02's recompute (which the oracle performs
    * directly over the final warehouse; the hash match IS the
    * maintenance ≡ recompute certificate). Money is summed in exact
    * half-USD longs (value = integral kg × 2.50 USD, so 2× value is
    * an exact integer) and divided back once at the end — retraction
    * by subtraction demands associative-exact addition. */
  private def cocoaIncrementalAgg(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // ensure v0 and v1 are committed
    val dirs = cocoaDirsMemo.get(spark)
    def snap(v: Long) = spark.read
      .schema(graft.pipeline.CocoaSchema.warehouse)
      .parquet(Warehouse.versionPath(dirs.warehouse, v))
    def halfUsd(value: org.apache.spark.sql.Column) =
      floor(value * 2 + lit(0.5)).cast("long")
    val agg0 = snap(0).groupBy(col("region"))
      .agg(fsum(halfUsd(col("shipment_value_usd"))).as("value_half"),
        count(lit(1)).as("n_shipments"))
    // consume the STORED feed (p10's artifact, published idempotently)
    // — the maintenance pass reads |Δ| rows, never snapshot v1
    Warehouse.publishChangeFeed(spark, dirs.warehouse, 1L)
    val changes = Warehouse.readChangeFeed(spark, dirs.warehouse, 1L)
    graft.operators.IncrementalAgg
      .maintain(agg0, changes, "region",
        Seq("value_half" -> (img => halfUsd(img.getField("shipment_value_usd")))),
        "n_shipments")
      .select(col("region"), (col("value_half") / 2.0).as("total_value_usd"),
        col("n_shipments"))
      .orderBy("region")
  }

  /** Fixed location the oracle SQL reads the landing copies from —
    * referenced verbatim inside [[oracleSql]]. */
  private val cocoaOracleIn = "/tmp/graft_cocoa_verify_in"

  private def copyCsvs(srcDir: String, dstDir: String): Unit = {
    val dst = java.nio.file.Paths.get(dstDir)
    Files.createDirectories(dst)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(srcDir))
    try files.iterator().forEachRemaining { p =>
      if (p.getFileName.toString.endsWith(".csv"))
        Files.copy(p, dst.resolve(p.getFileName.toString),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  private def deleteRecursively(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (Files.exists(root)) {
      val all = java.nio.file.Files.walk(root)
      try all.sorted(java.util.Comparator.reverseOrder())
        .iterator().forEachRemaining(p => Files.deleteIfExists(p))
      finally all.close()
    }
  }

  /** Streaming twin of [[runCocoa]]: the same two generated batches
    * drained through the checkpointed file source + foreachBatch merge
    * (graft.streaming.CocoaStream) with pinned per-drain audit stamps —
    * the result must hash-match the SAME warehouse oracle as p01,
    * which is precisely the exactly-once claim of the streaming
    * variant. The second drain's checkpoint log skips batch-1 files. */
  private val cocoaStreamMemo = new Memo[SparkSession, DataFrame]

  private def cocoaStreamWarehouse(spark: SparkSession): DataFrame =
    cocoaStreamMemo(spark)(runCocoaStream)

  /** s20: tail a PLAIN snapshot table (no change feed) as an
    * append-only stream. Deterministic split of the derived warehouse:
    * v0 = the high-grade slice, v1 = the full warehouse (a strict
    * append of the rest). Each AvailableNow drain shares one
    * checkpoint, so the second delivers exactly the appended diff;
    * the union of the drained batches must equal the warehouse —
    * s04's oracle certifies it. */
  private val cocoaSnapTailMemo = new Memo[SparkSession, DataFrame]

  private def cocoaSnapshotTailed(spark: SparkSession): DataFrame =
    cocoaSnapTailMemo(spark)(runCocoaSnapshotTail)

  private def runCocoaSnapshotTail(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_snap_tail_", keep = 32)
    val ckpt = s"$root/_ckpt"
    val schema = graft.pipeline.CocoaSchema.warehouse
    val part1 = wh.filter(coalesce(col("quality_score"), lit(0.0)) >= lit(8.5))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(got.add); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    Warehouse.commit(spark, root, part1)
    drain()
    Warehouse.commit(spark, root, wh) // superset of v0: a pure append
    drain()
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(got.iterator().asScala.toSeq.asJava, schema)
      .orderBy("shipment_id")
  }

  /** s21: tail a MANIFEST table — the O(Δ) twin of s20. The first
    * drain pays the honest conversion diff (plain v0 → manifest v1);
    * the second covers a manifest→manifest append span and MUST take
    * the new-files-only fast path: the engagement counter and the
    * exact planned-file count are REQUIRED in-gate, so a silent
    * fallback to the O(snapshot) dual diff fails the row. The union
    * of all drained batches re-assembles the warehouse (s20's
    * oracle). */
  private val cocoaManifestTailMemo = new Memo[SparkSession, DataFrame]

  private def cocoaManifestTailed(spark: SparkSession): DataFrame =
    cocoaManifestTailMemo(spark)(runCocoaManifestTail)

  private def runCocoaManifestTail(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_mtail_", keep = 32)
    val ckpt = s"$root/_ckpt"
    val schema = graft.pipeline.CocoaSchema.warehouse
    val part1 = wh.filter(coalesce(col("quality_score"), lit(0.0)) >= lit(8.5))
    val rest = wh.filter(coalesce(col("quality_score"), lit(0.0)) < lit(8.5))
    val part2 = rest.filter(col("bean_type") === lit("Criollo"))
    val part3 = rest.filter(col("bean_type") =!= lit("Criollo"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft").load(root)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(got.add); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    Warehouse.commit(spark, root, part1)
    drain()                                     // v0: the full slice
    Warehouse.appendFiles(spark, root, part2)   // conversion: honest diff
    drain()
    Warehouse.appendFiles(spark, root, part3.repartition(2)) // pure manifest span
    val fs = graft.sources.v2.GraftTables.fs(spark, root)
    val fresh = Warehouse.manifestOf(fs, root, 2L).getOrElse(
      throw new IllegalStateException("s21: v2 must be a manifest version"))
      .count(_.startsWith("v2/"))
    val bBefore = graft.sources.v2.GraftSnapshotSource.deltaBatches.sum()
    val fBefore = graft.sources.v2.GraftSnapshotSource.deltaFilesRead.sum()
    drain()
    require(graft.sources.v2.GraftSnapshotSource.deltaBatches.sum() > bBefore,
      "s21: a manifest-append span must take the O(Δ) new-files-only path," +
        " not the O(snapshot) dual diff")
    require(graft.sources.v2.GraftSnapshotSource.deltaFilesRead.sum() - fBefore
      == fresh.toLong,
      s"s21: the delta batch must plan exactly the $fresh fresh files")
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(got.iterator().asScala.toSeq.asJava, schema)
      .orderBy("shipment_id")
  }

  /** s07: the streaming drain landed DIRECTLY in the external RDBMS
    * (embedded Derby over the distributed JDBC upsert) — the
    * reference's production shape, stream → Postgres. Must hash-match
    * the same cocoa oracle: exactly-once-by-idempotence, certified. */
  private val cocoaStreamJdbcMemo = new Memo[SparkSession, DataFrame]

  private def cocoaStreamJdbcWarehouse(spark: SparkSession): DataFrame =
    cocoaStreamJdbcMemo(spark)(runCocoaStreamJdbc)

  private def runCocoaStreamJdbc(spark: SparkSession): DataFrame = {
    import graft.pipeline.JdbcWarehouse
    val root = Files.createTempDirectory("cocoa_stream_jdbc_verify").toString
    val landing = s"$root/landing"
    val url = s"jdbc:derby:$root/db;create=true"
    val scoped = pipelineSession(spark)
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 41, idOffset = 0)
    graft.streaming.CocoaStream.runAvailableNowJdbc(scoped, landing, url, "wh",
      s"$root/checkpoint", processedAt = Some(new Timestamp(1700000000000L)))
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 42, idOffset = 500)
    graft.streaming.CocoaStream.runAvailableNowJdbc(scoped, landing, url, "wh",
      s"$root/checkpoint", processedAt = Some(new Timestamp(1700000100000L)))
    JdbcWarehouse.read(spark, url, "wh").orderBy("shipment_id")
  }

  /** s15: CHECKPOINT CRASH RECOVERY — the first drain is killed after
    * its first micro-batch's warehouse commit but BEFORE the
    * checkpoint marks the batch done (the worst-ordered crash
    * window); the restarted drain replays that batch (idempotent LWW
    * ⇒ content-identical commit) and finishes the landing exactly
    * once. The final warehouse hash-matches the batch-pipeline
    * oracle — crash, replay and all. */
  private def runCocoaStreamCrashRecovery(spark: SparkSession): DataFrame = {
    val root = Files.createTempDirectory("cocoa_stream_crash").toString
    val landing = s"$root/landing"
    val warehouse = s"$root/warehouse"
    val checkpoint = s"$root/checkpoint"
    val scoped = pipelineSession(spark)
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 41, idOffset = 0)
    try {
      graft.streaming.CocoaStream.runAvailableNow(scoped, landing, warehouse,
        checkpoint, maxFilesPerTrigger = Some(1),
        processedAt = Some(new Timestamp(1700000000000L)),
        crashAfterBatches = Some(1L))
      throw new IllegalStateException("crash knob did not fire")
    } catch {
      case _: org.apache.spark.sql.streaming.StreamingQueryException => ()
    }
    // recovery: SAME checkpoint — replays the uncheckpointed batch,
    // then drains the rest exactly once
    graft.streaming.CocoaStream.runAvailableNow(scoped, landing, warehouse,
      checkpoint, maxFilesPerTrigger = Some(1),
      processedAt = Some(new Timestamp(1700000000000L)))
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 42, idOffset = 500)
    graft.streaming.CocoaStream.runAvailableNow(scoped, landing, warehouse,
      checkpoint, processedAt = Some(new Timestamp(1700000100000L)))
    Warehouse.read(spark, warehouse).orderBy("shipment_id")
  }

  /** s19: s04's pipeline with the sink swapped for the connector —
    * `writeStream.format("graft")` ([[graft.sources.v2.GraftStreamSink]]).
    * Same seeds/stamps as [[runCocoaStream]] ⇒ same DuckDB oracle. */
  private val cocoaStreamSinkMemo = new Memo[SparkSession, DataFrame]

  private def cocoaStreamSinkWarehouse(spark: SparkSession): DataFrame =
    cocoaStreamSinkMemo(spark) { s =>
      val root = Files.createTempDirectory("cocoa_stream_sink_verify").toString
      val landing = s"$root/landing"
      val warehouse = s"$root/warehouse"
      val checkpoint = s"$root/checkpoint"
      val scoped = pipelineSession(s)
      CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 41, idOffset = 0)
      graft.streaming.CocoaStream.runAvailableNowSink(scoped, landing, warehouse,
        checkpoint, processedAt = Some(new Timestamp(1700000000000L)))
      CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 42, idOffset = 500)
      graft.streaming.CocoaStream.runAvailableNowSink(scoped, landing, warehouse,
        checkpoint, processedAt = Some(new Timestamp(1700000100000L)))
      Warehouse.read(s, warehouse).orderBy("shipment_id")
    }

  private def runCocoaStream(spark: SparkSession): DataFrame = {
    val root = Files.createTempDirectory("cocoa_stream_verify").toString
    val landing = s"$root/landing"
    val warehouse = s"$root/warehouse"
    val checkpoint = s"$root/checkpoint"
    val scoped = pipelineSession(spark)
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 41, idOffset = 0)
    graft.streaming.CocoaStream.runAvailableNow(scoped, landing, warehouse, checkpoint,
      processedAt = Some(new Timestamp(1700000000000L)))
    CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = 42, idOffset = 500)
    graft.streaming.CocoaStream.runAvailableNow(scoped, landing, warehouse, checkpoint,
      processedAt = Some(new Timestamp(1700000100000L)))
    Warehouse.read(spark, warehouse).orderBy("shipment_id")
  }

  /** Clone the session tuned for the pipeline's bounded maintenance
    * batches: a daily-batch write's plan is fixed up front (small
    * window + broadcast-anti merge), so AQE's stage-by-stage
    * materialization — one scheduled job per exchange — buys nothing
    * and multiplies fixed job latency; 8 shuffle partitions match the
    * batch size the same way withStreamPartitions sizes state stores.
    * Scoped to a clone so every analytic query keeps AQE; a cluster
    * deployment re-enables it for replay/mega-batch merges. */
  private def pipelineSession(spark: SparkSession): SparkSession = {
    val scoped = spark.newSession()
    scoped.conf.set("spark.sql.adaptive.enabled", "false")
    scoped.conf.set("spark.sql.shuffle.partitions", "8")
    scoped
  }

  /** p06: the cocoa batches landed in embedded Derby via the
    * distributed JDBC upsert ([[graft.pipeline.JdbcWarehouse]]) and
    * read back over JDBC. Byte-identical generated batches (same
    * seeds as [[runCocoa]]) ⇒ same DuckDB oracle; the landing-file
    * dump is runCocoa's (p01 always runs in the same Verify pass). */
  private val cocoaJdbcMemo = new Memo[SparkSession, DataFrame]

  private def cocoaJdbcWarehouse(spark: SparkSession): DataFrame =
    cocoaJdbcMemo(spark)(runCocoaJdbc)

  private def runCocoaJdbc(spark: SparkSession): DataFrame = {
    import graft.pipeline.{CocoaSchema, JdbcWarehouse, Merge}
    val root = Files.createTempDirectory("cocoa_jdbc_verify").toString
    val url = s"jdbc:derby:$root/db;create=true"
    val scoped = pipelineSession(spark)
    JdbcWarehouse.ensureTable(url, "wh", CocoaSchema.warehouse, CocoaSchema.mergeKey)
    def applyBatch(landing: String, seed: Int, offset: Int, ts: Long): Unit = {
      CocoaGen.writeLandingFiles(scoped, landing, 2, 500, seed = seed, idOffset = offset)
      val (maybeDf, _) = graft.pipeline.Ingest.ingest(scoped, landing)
      val enriched = graft.pipeline.Enrich.enrich(maybeDf.get, new Timestamp(ts))
      // within-batch LWW first: key-unique input is what makes the
      // upsert's cross-batch ON CONFLICT semantics equal the
      // reference's, and concurrent partitions conflict-free
      val deduped = Merge.lastWriterWins(enriched, CocoaSchema.mergeKey,
        col("processed_at"), Seq(col("timestamp")))
      JdbcWarehouse.upsert(deduped, url, "wh", CocoaSchema.mergeKey)
    }
    applyBatch(s"$root/landing1", 41, 0, 1700000000000L)
    applyBatch(s"$root/landing2", 42, 500, 1700000100000L)
    JdbcWarehouse.read(spark, url, "wh").orderBy("shipment_id")
  }

  private def runCocoa(spark: SparkSession): DataFrame = {
    val root = Files.createTempDirectory("cocoa_verify").toString
    val dirs = CocoaPipeline.Dirs(
      s"$root/landing", s"$root/staging", s"$root/warehouse", s"$root/archive")
    cocoaDirsMemo.put(spark, dirs)
    deleteRecursively(cocoaOracleIn)
    val scoped = pipelineSession(spark)
    CocoaGen.writeLandingFiles(scoped, dirs.landing, 2, 500, seed = 41, idOffset = 0)
    copyCsvs(dirs.landing, s"$cocoaOracleIn/b1")
    CocoaPipeline.runBatch(scoped, dirs, new Timestamp(1700000000000L))
    CocoaGen.writeLandingFiles(scoped, dirs.landing, 2, 500, seed = 42, idOffset = 500)
    copyCsvs(dirs.landing, s"$cocoaOracleIn/b2")
    CocoaPipeline.runBatch(scoped, dirs, new Timestamp(1700000100000L))
    // Read the committed snapshot on the CALLER's session: the result
    // feeds p02-p04's analytics, which should plan with its conf.
    Warehouse.read(spark, dirs.warehouse).orderBy("shipment_id")
  }

  /** p17: SCD TYPE-2 dimension history. Two landing batches with
    * OVERLAPPING key ranges (ids 0–499 then 250–749, different seeds
    * so every overlapping row's business image changes): batch 1
    * bootstraps the history, batch 2 closes the 250 changed rows and
    * opens their new images plus the 250 brand-new keys, all through
    * [[graft.pipeline.Merge.scd2Merge]], committed as warehouse
    * versions. The oracle re-derives every validity interval from the
    * same landing CSVs. Runs AFTER the memoized p01 pipeline (which
    * wipes the shared oracle-input dir) so its s1/s2 CSV copies
    * survive until the DuckDB compare. */
  private val scd2Schema = org.apache.spark.sql.types.StructType(
    graft.pipeline.CocoaSchema.warehouse.fields ++ Seq(
      org.apache.spark.sql.types.StructField("valid_from_ms",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("valid_to_ms",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("is_current",
        org.apache.spark.sql.types.BooleanType, nullable = false)))

  private val scd2RootMemo = new Memo[SparkSession, String]

  private def scd2Root(spark: SparkSession): String =
    scd2RootMemo(spark) { s =>
      cocoaWarehouse(s) // force the memoized run (and its input-dir wipe) FIRST
      val scoped = pipelineSession(s)
      val root = Files.createTempDirectory("cocoa_scd2").toString
      CocoaGen.writeLandingFiles(scoped, s"$root/l1", 2, 250, seed = 61, idOffset = 0)
      copyCsvs(s"$root/l1", s"$cocoaOracleIn/s1")
      CocoaGen.writeLandingFiles(scoped, s"$root/l2", 2, 250, seed = 62, idOffset = 250)
      copyCsvs(s"$root/l2", s"$cocoaOracleIn/s2")
      val t1 = 1700000000000L
      val t2 = 1700000100000L
      def enriched(landing: String, ms: Long) = {
        val (df, _) = graft.pipeline.Ingest.ingest(scoped, landing)
        graft.pipeline.Enrich.enrich(df.get, new Timestamp(ms))
      }
      val cmp = graft.pipeline.CocoaSchema.input.fieldNames.filterNot(_ == "shipment_id").toSeq :+
        "shipment_value_usd"
      val whRoot = s"$root/scd2wh"
      val v0 = graft.pipeline.Merge.scd2Init(enriched(s"$root/l1", t1),
        graft.pipeline.CocoaSchema.mergeKey, t1, col("processed_at"), Seq(col("timestamp")))
      Warehouse.commit(scoped, whRoot, v0)
      val v1 = graft.pipeline.Merge.scd2Merge(
        Warehouse.read(scoped, whRoot, scd2Schema),
        enriched(s"$root/l2", t2),
        graft.pipeline.CocoaSchema.mergeKey, cmp, t2, col("processed_at"), Seq(col("timestamp")))
      Warehouse.commit(scoped, whRoot, v1)
      whRoot
    }

  private def cocoaScd2(spark: SparkSession): DataFrame =
    Warehouse.read(spark, scd2Root(spark), scd2Schema)
      .orderBy("shipment_id", "valid_from_ms")

  /** p19: TEMPORAL AS-OF aggregate over the SCD2 history — "value by
    * region as it stood at T" answered with ONE interval predicate
    * (valid_from ≤ T < valid_to-or-open) over p17's history table, at
    * a T between the two batch stamps, so the answer is exactly the
    * batch-1 state even though batch 2 has long since landed. This is
    * the query the validity intervals exist to serve; the oracle
    * re-aggregates the first batch directly. */
  private def cocoaScd2AsOf(spark: SparkSession): DataFrame = {
    val t = 1700000050000L // between the two batch stamps
    Warehouse.read(spark, scd2Root(spark), scd2Schema)
      .filter(col("valid_from_ms") <= t &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > t))
      .groupBy("region")
      .agg(count(lit(1)).as("n_shipments"),
        fsum(col("shipment_value_usd")).as("total_value_usd"))
      .orderBy("region")
  }

  /** p18: CLUSTERED COMPACTION (OPTIMIZE + ZORDER + zone-map). Clone
    * the memoized warehouse, rewrite it z-ordered on (quality_score,
    * shipment_weight_kg) at a file size that forces a real multi-file
    * layout, and read the result — the p01-oracle hash certifies the
    * rewrite moved bytes but changed none. The selectivity win the
    * layout exists for is measured in ClusteredCompactionSpec. */
  private def cocoaClusteredCompaction(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val dst = graft.core.RunTemp.dir("graft_cluster_wh_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, dst)
    Warehouse.compactClustered(spark, dst,
      "quality_score", "shipment_weight_kg", targetFileBytes = 16L * 1024)
    Warehouse.read(spark, dst).orderBy("shipment_id")
  }

  /** io10: PARTITION EVOLUTION. v0 of the clone is the flat layout
    * (shallow pointer); v1 re-commits the same content
    * hive-partitioned by region. The gate reads the CURRENT
    * (partitioned) version and hash-matches the p01 oracle — layout
    * changed, content didn't; pruning is plan-pinned in
    * PartitionEvolutionSpec. */
  private def cocoaPartitionEvolution(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val dst = graft.core.RunTemp.dir("graft_partevo_wh_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, dst)
    Warehouse.commitPartitioned(spark, dst,
      Warehouse.read(spark, dst), Seq("region"))
    Warehouse.read(spark, dst).orderBy("shipment_id")
  }

  // ------------- DSv2 connector gates (io11-io13, p24, s18) -------------

  /** io11: the warehouse read through the DataSource V2 connector
    * (`format("graft")`, [[graft.sources.v2.GraftDataSource]]) with a
    * filter + projection — both reach the DELEGATED builtin parquet
    * scan (PushedFilters / pruned ReadSchema, plan-pinned in
    * GraftDataSourceSpec); the hash match certifies the connector's
    * snapshot resolution returns exactly the committed current
    * version. */
  private def cocoaDsv2Read(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    spark.read.format("graft").load(dirs.warehouse)
      .filter(col("region") === "Ashanti")
      .select("shipment_id", "region", "quality_score", "shipment_value_usd")
      .orderBy("shipment_id")
  }

  /** io12: `versionAsOf` through the connector — p05's time travel via
    * the format option instead of the Warehouse API; the batch-1
    * oracle certifies the pinned snapshot is immutable history. */
  private def cocoaDsv2TimeTravel(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    spark.read.format("graft").option("versionAsOf", "0").load(dirs.warehouse)
      .orderBy("shipment_id")
  }

  /** io16: MIN/MAX/COUNT through `format("graft")` with parquet
    * aggregate pushdown on — the delegated [[SupportsPushDownAggregates]]
    * answers from footer statistics, no data pages. The plan pin lives
    * INSIDE the gate (`require(PushedAggregation...)`) so a silent
    * fallback to a full scan fails the row, not just a spec; the conf
    * flip is scoped to this query (result eagerly collected, session
    * conf restored). */
  private def cocoaAggPushdown(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_aggpd_wh_", keep = 32)
    Warehouse.commit(spark, root, wh.repartition(4))
    val key = "spark.sql.parquet.aggregatePushdown"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val agg = spark.read.format("graft").load(root).agg(
        count(lit(1)).as("n_rows"),
        min(col("quality_score")).as("min_quality"),
        max(col("quality_score")).as("max_quality"),
        min(col("shipment_weight_kg")).as("min_weight"),
        max(col("shipment_weight_kg")).as("max_weight"))
      val planStr = agg.queryExecution.executedPlan.toString
      require(planStr.contains("PushedAggregation: [COUNT(*)"),
        s"io16: aggregate pushdown did not engage:\n$planStr")
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(agg.collect().toSeq.asJava, agg.schema)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** io14: zone-map data skipping INSIDE the connector's scan
    * planning ([[graft.sources.v2.ZoneMapFileIndex]]): a clustered
    * (range-partitioned, sorted) snapshot with a `_zonemap` sidecar
    * served through `format("graft")` under a selective range
    * predicate — files whose stat band cannot match are dropped
    * before any task schedules (counters + staleness fallback are
    * spec-pinned); the hash match certifies skipping never drops a
    * matching row. */
  private def cocoaDsv2ZoneMap(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_dsv2zm_wh_", keep = 32)
    Warehouse.commit(spark, root,
      wh.repartitionByRange(8, col("quality_score"))
        .sortWithinPartitions("quality_score"))
    val dataDir = Warehouse.versionPath(root, 0L)
    graft.sources.ZoneMap.build(spark, dataDir,
      spark.read.parquet(dataDir).schema, Seq("quality_score"))
    spark.read.format("graft").load(root)
      .filter(col("quality_score") >= lit(9.5))
      .orderBy("shipment_id")
  }

  /** io15: DYNAMIC partition pruning through the connector
    * ([[graft.sources.v2.GraftRuntimeScan]]) — a hive-partitioned
    * snapshot joined against a selective file-backed dimension; the
    * DPP subquery's runtime `IN` folds into the scan's partition
    * filters, so only the surviving `region=` directories are listed
    * (behavior spec-pinned with a counter; the builtin V2 parquet
    * scan has no runtime filtering at all). The hash match certifies
    * pruning never changes the join's result. */
  private def cocoaDsv2RuntimePrune(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val root = graft.core.RunTemp.dir("graft_dsv2dpp_wh_", keep = 32)
    Warehouse.commitPartitioned(spark, root, wh, Seq("region"))
    val dimDir = s"$root/../dim"
    wh.select(col("region")).distinct()
      .withColumn("keep", (col("region") < lit("F")).cast("int"))
      .write.mode("overwrite").parquet(dimDir)
    val fact = spark.read.format("graft").load(root)
    val dim = spark.read.parquet(dimDir).filter(col("keep") === 1)
    fact.join(org.apache.spark.sql.functions.broadcast(dim), Seq("region"))
      .select(graft.pipeline.CocoaSchema.warehouse.fieldNames.map(col).toIndexedSeq: _*)
      .orderBy("shipment_id")
  }

  /** p28: `ALTER TABLE ADD COLUMNS` through the catalog — a pure
    * METADATA widening (`_SCHEMA` sidecar, zero data rewritten): the
    * 10-column snapshot reads as 11 columns with the new one NULL,
    * and a follow-up SQL upsert grades the premium rows. Re-invocation
    * safe: each run re-commits the ungraded warehouse and re-applies
    * the (guarded) widening + grading. */
  private def cocoaSqlAlterEvolve(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = cocoaCatalogBase(spark)
    Warehouse.commit(spark, s"$base/cocoa_evo", wh)
    if (!spark.table("graft_wh.cocoa_evo").columns.contains("grade"))
      spark.sql("ALTER TABLE graft_wh.cocoa_evo ADD COLUMNS (grade STRING)")
    spark.sql("""INSERT INTO graft_wh.cocoa_evo
      SELECT shipment_id, timestamp, farm_id, region, bean_type,
             quality_score, shipment_weight_kg, temperature_celsius,
             shipment_value_usd, processed_at, 'A' AS grade
      FROM graft_wh.cocoa_evo WHERE quality_score >= 9.0""")
    spark.sql("SELECT * FROM graft_wh.cocoa_evo ORDER BY shipment_id")
  }

  /** Catalog root for the SQL-native gates: `base/cocoa` holds v0 =
    * the memoized run's batch-1 snapshot and v1 = the full warehouse,
    * and the session conf registers [[graft.sources.v2.GraftCatalog]]
    * under `graft_wh` BEFORE its first resolution (the catalog
    * manager caches instances per session). One-time per session.
    * Deliberately NOT a [[Memo]]: the session's catalog manager keeps
    * the `GraftCatalog` instance it built together with that `base`,
    * so a reset that rebuilt the root under a new base would leave the
    * session resolving `graft_wh` against the old one. */
  private val cocoaCatalogMemo =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, String]()

  private def cocoaCatalogBase(spark: SparkSession): String =
    cocoaCatalogMemo.computeIfAbsent(spark, { s =>
      cocoaWarehouse(s)
      val dirs = cocoaDirsMemo.get(s)
      val base = graft.core.RunTemp.dir("graft_sqlcat_", keep = 4)
      val root = s"$base/cocoa"
      val scoped = pipelineSession(s)
      val v0 = s.read.schema(graft.pipeline.CocoaSchema.warehouse)
        .parquet(Warehouse.versionPath(dirs.warehouse, 0L))
      Warehouse.commit(scoped, root, v0)
      Warehouse.commit(scoped, root, Warehouse.read(s, dirs.warehouse))
      s.conf.set("spark.sql.catalog.graft_wh", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.graft_wh.base", base)
      base
    })

  /** io13: NATIVE SQL time travel — `VERSION AS OF` resolved through
    * [[graft.sources.v2.GraftCatalog]] (Spark's own syntax routed to
    * `TableCatalog.loadTable(ident, version)`), no TVF, no API call.
    * Same batch-1 oracle as p05/io12: three independent read paths
    * (Warehouse API, format option, SQL catalog) must agree on what
    * v0 was. */
  private def cocoaSqlTimeTravel(spark: SparkSession): DataFrame = {
    cocoaCatalogBase(spark)
    spark.sql("SELECT * FROM graft_wh.cocoa VERSION AS OF 0 ORDER BY shipment_id")
  }

  /** p24: the reference's warehouse LOAD through plain SQL — CREATE
    * TABLE + two INSERT INTOs whose append path is the connector's
    * keyed upsert ([[graft.sources.v2.GraftSnapshotTable]], `ON
    * CONFLICT (shipment_id) DO UPDATE` parity with
    * `cocoa_processing_dag.py:223-237`). Batches are byte-identical
    * regenerations of the memoized run's (same seeds/offsets, the
    * runCocoaJdbc trick), so p01's oracle applies verbatim: the SQL
    * door and the pipeline door must land the same warehouse.
    * Idempotent under re-invocation (bench rounds): CREATE IF NOT
    * EXISTS + content-stable re-upserts. */
  private def cocoaSqlInsertUpsert(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark) // publishes the b1/b2 oracle CSVs first
    cocoaCatalogBase(spark) // registers the graft_wh catalog
    import graft.pipeline.{CocoaSchema, Merge}
    spark.sql("CREATE TABLE IF NOT EXISTS graft_wh.cocoa_ins (" +
      CocoaSchema.warehouse.toDDL + ") USING graft" +
      " TBLPROPERTIES ('mergeKey'='shipment_id')")
    val gen = graft.core.RunTemp.dir("graft_sqlins_gen_", keep = 8)
    def insertBatch(seed: Int, offset: Int, ts: Long, view: String): Unit = {
      CocoaGen.writeLandingFiles(spark, s"$gen/$view", 2, 500,
        seed = seed, idOffset = offset)
      val (maybeDf, _) = graft.pipeline.Ingest.ingest(spark, s"$gen/$view")
      val enriched = graft.pipeline.Enrich.enrich(maybeDf.get, new Timestamp(ts))
      // within-batch LWW first (the JDBC gate's discipline): the
      // connector's INSERT, like one Postgres statement, refuses to
      // affect the same key twice
      Merge.lastWriterWins(enriched, CocoaSchema.mergeKey,
        col("processed_at"), Seq(col("timestamp")))
        .createOrReplaceTempView(view)
      spark.sql(s"INSERT INTO graft_wh.cocoa_ins SELECT * FROM $view")
    }
    insertBatch(41, 0, 1700000000000L, "cocoa_ins_b1")
    insertBatch(42, 500, 1700000100000L, "cocoa_ins_b2")
    spark.sql("SELECT * FROM graft_wh.cocoa_ins ORDER BY shipment_id")
  }

  /** p25: SQL `DELETE FROM` through the connector
    * ([[graft.sources.v2.GraftSnapshotTable.deleteWhere]]) — a
    * copy-on-write commit under the fenced protocol, with SQL's
    * three-valued semantics: TRUE deletes, FALSE and NULL stay (the
    * fixture's ~10% null temperatures are the live probe). The oracle
    * mirrors with WHERE NOT coalesce(pred, FALSE), p12's rule.
    * Deterministic under re-invocation: each run re-commits the full
    * warehouse before deleting. */
  private def cocoaSqlDelete(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = cocoaCatalogBase(spark)
    Warehouse.commit(spark, s"$base/cocoa_del", wh)
    // the generator's ranges (temp 18–25 or null, quality 7.5–9.8)
    // make this predicate split three ways: true (deleted), false
    // (kept), and null (kept — the 3VL probe)
    spark.sql("DELETE FROM graft_wh.cocoa_del" +
      " WHERE temperature_celsius > 23.0 AND quality_score < 8.2")
    spark.sql("SELECT * FROM graft_wh.cocoa_del ORDER BY shipment_id")
  }

  /** p26: SQL `UPDATE` through the connector — Spark's
    * `RewriteUpdateTable` turns it into a group-based ReplaceData over
    * [[graft.sources.v2.GraftRowLevelOperation]]; executors write the
    * replacement snapshot, the driver publishes it through the fenced
    * protocol ([[graft.pipeline.Warehouse.publishStaged]]). 3VL: rows
    * with NULL temperature are untouched. */
  private def cocoaSqlUpdate(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = cocoaCatalogBase(spark)
    Warehouse.commit(spark, s"$base/cocoa_upd", wh)
    spark.sql("UPDATE graft_wh.cocoa_upd SET region = 'REGRADED'," +
      " quality_score = quality_score + 0.5 WHERE temperature_celsius > 23.0")
    spark.sql("SELECT * FROM graft_wh.cocoa_upd ORDER BY shipment_id")
  }

  /** p27: SQL `MERGE INTO` through the connector, all three clause
    * kinds live: matched+delete (quality < 8), matched+update (region
    * promotion), not-matched+insert (suffixed keys). Spark's
    * `RewriteMergeIntoTable` owns clause alignment and the cardinality
    * check; the connector contributes the same group-based
    * replace-write as p26. */
  private def cocoaSqlMerge(spark: SparkSession): DataFrame = {
    val wh = cocoaWarehouse(spark)
    val base = cocoaCatalogBase(spark)
    Warehouse.commit(spark, s"$base/cocoa_mrg", wh)
    wh.withColumn("region", lit("PREMIUM"))
      .unionByName(wh.withColumn("shipment_id",
        concat(col("shipment_id"), lit("-X"))))
      .createOrReplaceTempView("cocoa_mrg_src")
    spark.sql("""MERGE INTO graft_wh.cocoa_mrg t USING cocoa_mrg_src s
      ON t.shipment_id = s.shipment_id
      WHEN MATCHED AND s.quality_score < 8.0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET region = s.region
      WHEN NOT MATCHED THEN INSERT *""")
    spark.sql("SELECT * FROM graft_wh.cocoa_mrg ORDER BY shipment_id")
  }

  /** s18: the STREAMED change feed — the connector's CDC
    * [[graft.sources.v2.GraftCdcStream]] (micro-batch offsets are
    * warehouse versions) drained over the memoized run's v0→v1
    * transition and flattened to p07's change shape. Hash-matching
    * the same diff oracle as p07/p10/t08 certifies the fourth
    * consumption path of one change set: recomputed diff, stored
    * feed, TVF, and now a checkpointed stream. */
  private def cocoaCdcStream(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    Warehouse.publishChangeFeed(spark, dirs.warehouse, 1L)
    val sink = graft.core.RunTemp.dir("graft_s18_sink_", keep = 8)
    val ckpt = graft.core.RunTemp.dir("graft_s18_ckpt_", keep = 8)
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(dirs.warehouse)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(sink); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dataCols = graft.pipeline.CocoaSchema.warehouse.fieldNames.toSeq
      .filterNot(_ == "shipment_id")
    spark.read.parquet(sink)
      .withColumn("__row", coalesce(col("new_image"), col("old_image")))
      .select(col("shipment_id") +:
        dataCols.map(c => col(s"__row.`$c`").as(c)) :+ col("change_type"): _*)
      .orderBy("shipment_id")
  }

  /** p20: CONSISTENT SNAPSHOT GROUP. A derived aggregate table is
    * committed as its own warehouse, then one group pointer pins
    * (facts, agg) at versions that co-existed; the gate reads the agg
    * member THROUGH the group and hash-matches the p02 oracle over
    * the facts — the pinned pair is consistent by construction. The
    * staleness/consistency behavior mid-commit-cycle is
    * SnapshotGroupSpec's job. */
  /** Build the (facts, agg) snapshot group over the memoized cocoa
    * warehouse; returns (groupDir, agg schema). Shared by p20 (Scala
    * read path) and t09 (the graft_group_member TVF read path). */
  private def buildCocoaSnapshotGroup(spark: SparkSession)
      : (String, org.apache.spark.sql.types.StructType) = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val scoped = pipelineSession(spark)
    val aggRoot = graft.core.RunTemp.dir("graft_groupagg_wh_", keep = 32)
    val agg = Warehouse.read(scoped, dirs.warehouse)
      .groupBy("region")
      .agg(count(lit(1)).as("n_shipments"),
        fsum(col("shipment_value_usd")).as("total_value_usd"))
    Warehouse.commit(scoped, aggRoot, agg)
    val groupDir = graft.core.RunTemp.dir("graft_group_", keep = 32)
    Warehouse.publishSnapshotGroup(spark, groupDir,
      Map("facts" -> dirs.warehouse, "agg" -> aggRoot))
    (groupDir, agg.schema)
  }

  private def cocoaSnapshotGroup(spark: SparkSession): DataFrame = {
    val (groupDir, aggSchema) = buildCocoaSnapshotGroup(spark)
    Warehouse.readGroupMember(spark, groupDir, "agg", aggSchema)
      .orderBy("region")
  }

  /** p21: BRANCH MERGE. Main and a zero-copy branch each absorb one
    * disjoint landing batch after the fork; the three-way merge folds
    * the branch's key-delta back onto main. With disjoint edits the
    * merged table is provably the LWW of all four batches, which is
    * exactly what the oracle recomputes from the landing CSVs; the
    * conflict/convergence behavior is BranchMergeSpec's job. */
  private def cocoaBranchMerge(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val scoped = pipelineSession(spark)
    val main = graft.core.RunTemp.dir("graft_bm_main_", keep = 32)
    val br = graft.core.RunTemp.dir("graft_bm_branch_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, main)
    Warehouse.cloneShallow(spark, main, br) // fork: branch v0 ≡ main content
    val root = Files.createTempDirectory("cocoa_bm").toString
    def enriched(landing: String, ms: Long) = {
      val (df, _) = graft.pipeline.Ingest.ingest(scoped, landing)
      graft.pipeline.Enrich.enrich(df.get, new Timestamp(ms))
    }
    // main edits keys 0–99; branch edits 1450–1549 (50 updates + 50
    // inserts) — disjoint, so the merge is clean by construction
    CocoaGen.writeLandingFiles(scoped, s"$root/m1", 1, 100, seed = 64, idOffset = 0)
    copyCsvs(s"$root/m1", s"$cocoaOracleIn/m1")
    Warehouse.commit(scoped, main, graft.pipeline.Merge.upsertShipments(
      Warehouse.read(scoped, main), enriched(s"$root/m1", 1700000200000L)))
    CocoaGen.writeLandingFiles(scoped, s"$root/m2", 1, 100, seed = 65, idOffset = 1450)
    copyCsvs(s"$root/m2", s"$cocoaOracleIn/m2")
    Warehouse.commit(scoped, br, graft.pipeline.Merge.upsertShipments(
      Warehouse.read(scoped, br), enriched(s"$root/m2", 1700000300000L)))
    Warehouse.mergeBranch(spark, main, br)
    Warehouse.read(spark, main).orderBy("shipment_id")
  }

  /** p23: RE-MERGE — the advanced-merge-base contract driven end to
    * end. Two full fork-diverge-merge ROUNDS on one branch: after the
    * first merge the recorded base advances (branch → its merged
    * state, main → the merge commit), so the second merge folds ONLY
    * the second round's deltas — already-merged keys are never
    * re-litigated. All four edit batches hit disjoint key ranges, so
    * the final table is provably the LWW of all six batches, which is
    * exactly what the oracle recomputes from the landing CSVs. The
    * conflict-after-advance and fork-past-v0 behaviors are
    * BranchMergeSpec's job. */
  private def cocoaBranchRemerge(spark: SparkSession): DataFrame = {
    cocoaWarehouse(spark)
    val dirs = cocoaDirsMemo.get(spark)
    val scoped = pipelineSession(spark)
    val main = graft.core.RunTemp.dir("graft_brm_main_", keep = 32)
    val br = graft.core.RunTemp.dir("graft_brm_branch_", keep = 32)
    Warehouse.cloneShallow(spark, dirs.warehouse, main)
    Warehouse.cloneShallow(spark, main, br)
    val root = Files.createTempDirectory("cocoa_brm").toString
    def enriched(landing: String, ms: Long) = {
      val (df, _) = graft.pipeline.Ingest.ingest(scoped, landing)
      graft.pipeline.Enrich.enrich(df.get, new Timestamp(ms))
    }
    def absorb(dst: String, batch: String, seed: Int, idOffset: Long,
        ms: Long): Unit = {
      CocoaGen.writeLandingFiles(scoped, s"$root/$batch", 1, 100,
        seed = seed, idOffset = idOffset)
      copyCsvs(s"$root/$batch", s"$cocoaOracleIn/$batch")
      Warehouse.commit(scoped, dst, graft.pipeline.Merge.upsertShipments(
        Warehouse.read(scoped, dst), enriched(s"$root/$batch", ms)))
    }
    // round 1: main edits keys 0-99, branch edits 1450-1549 — merge
    absorb(main, "r1", seed = 64, idOffset = 0, ms = 1700000200000L)
    absorb(br, "r2", seed = 65, idOffset = 1450, ms = 1700000300000L)
    Warehouse.mergeBranch(spark, main, br)
    // round 2: both diverge AGAIN (keys 200-299 / 1600-1699) — the
    // advanced base makes this merge clean and minimal
    absorb(main, "r3", seed = 66, idOffset = 200, ms = 1700000400000L)
    absorb(br, "r4", seed = 67, idOffset = 1600, ms = 1700000500000L)
    Warehouse.mergeBranch(spark, main, br)
    Warehouse.read(spark, main).orderBy("shipment_id")
  }

  /** d15's oracle, with the aggregate's permutation seeds inlined as
    * unsigned literals (the seed values come from the same
    * [[graft.functions.MinHashUnionAgg.seeds]] the engine evaluates,
    * so the two sides share constants by construction). */
  private lazy val groupMinhashOracleSql: String = {
    val seedRows = graft.functions.MinHashUnionAgg.seeds(16).zipWithIndex
      .map { case (seed, i) =>
        s"(CAST($i AS BIGINT), CAST('${java.lang.Long.toUnsignedString(seed)}' AS UBIGINT))"
      }
      .mkString(", ")
    s"""WITH tok AS (
       |  SELECT lang, source, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |sh AS (
       |  SELECT lang, source,
       |    CASE WHEN len(toks) >= 3
       |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
       |         ELSE [array_to_string(toks, ' ')] END AS shingles
       |  FROM tok),
       |g AS (SELECT lang, source, unnest(shingles) AS s FROM sh),
       |h0 AS (
       |  SELECT lang, source, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
       |      list_transform(regexp_extract_all(s, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
       |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS UBIGINT) AS h
       |  FROM g),
       |f1 AS (SELECT lang, source, CAST((CAST(xor(h, h >> 33) AS HUGEINT) * 4283543511) % 18446744073709551616 AS UBIGINT) AS z FROM h0),
       |f2 AS (SELECT lang, source, CAST((CAST(xor(z, z >> 29) AS HUGEINT) * 3301882366) % 18446744073709551616 AS UBIGINT) AS z FROM f1),
       |th AS (SELECT lang, source, xor(z, z >> 32) AS h FROM f2),
       |perm AS (SELECT * FROM (VALUES $seedRows) t(perm_idx, seed)),
       |x0 AS (SELECT lang, source, perm_idx, xor(h, seed) AS x FROM th, perm),
       |x1 AS (SELECT lang, source, perm_idx, CAST((CAST(xor(x, x >> 33) AS HUGEINT) * 4283543511) % 18446744073709551616 AS UBIGINT) AS x FROM x0),
       |x2 AS (SELECT lang, source, perm_idx, CAST((CAST(xor(x, x >> 29) AS HUGEINT) * 3301882366) % 18446744073709551616 AS UBIGINT) AS x FROM x1),
       |xf AS (SELECT lang, source, perm_idx,
       |  CAST(CASE WHEN xor(x, x >> 32) >= 9223372036854775808 THEN CAST(xor(x, x >> 32) AS HUGEINT) - 18446744073709551616 ELSE CAST(xor(x, x >> 32) AS HUGEINT) END AS BIGINT) AS z
       |  FROM x2)
       |SELECT lang, source, perm_idx, min(z) AS min_hash
       |FROM xf GROUP BY lang, source, perm_idx
       |ORDER BY lang, source, perm_idx""".stripMargin
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    coreOracleSql ++ graft.core.Catalog.commonSql ++ tvfOracleSql

  /** Oracles for the TABLE-VALUED-FUNCTION gate rows (t01–t04): the
    * Spark side drives the flagship table operators through plain
    * `spark.sql` FROM-clause calls ([[graft.functions
    * .GraftTableFunctions]]); the oracles recompute the same results
    * in portable SQL. t03 reuses d07's exhaustive ground truth
    * verbatim — same planted corpus, same quantized-threshold
    * semantics — because the TVF call IS d07's operator behind the
    * SQL front door. */
  private lazy val tvfOracleSql: Map[String, String] = Map(
    "t01_tvf_exact_dedup" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,
    "t02_tvf_knn" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "t03_tvf_minhash_pairs" -> coreOracleSql("d07_minhash_near_dups"),
    // t05/t06 reuse the custom joins' existing exhaustive oracles
    // (DuckDB ASOF JOIN / windowed self-join) — same semantics, the
    // TVF call IS q34/q36's operator behind the SQL front door.
    "t05_tvf_asof_join" -> coreOracleSql("q34_asof_clicks"),
    "t06_tvf_interval_join" -> coreOracleSql("q36_range_join"),
    // t07/t08: the warehouse-surface TVFs must reproduce p05's
    // batch-1-only snapshot and p10's stored change set exactly.
    "t07_tvf_time_travel" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    "t08_tvf_change_feed" -> cocoaVersionDiffOracleSql,
    // t19: optimize is layout-only — the content is the whole warehouse.
    "t19_tvf_optimize" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id"),
    // t18: the live read must serve p12's post-delete truth.
    "t18_tvf_live" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0 OR region = 'Volta', FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // t09 must reproduce p20's pinned-aggregate read; t10 must
    // reproduce d29's incremental-dedup survivor set.
    "t09_tvf_group_member" -> cocoaOracle(
      """SELECT region, count(*) AS n_shipments,
        |  sum(shipment_value_usd) AS total_value_usd
        |FROM wh GROUP BY region ORDER BY region""".stripMargin),
    "t10_tvf_new_content" -> coreOracleSql("d29_incremental_exact"),
    // t11/t12: the TVF calls ARE r01's / d19's operators — same
    // queries derivation, same fingerprint draw — so their oracles
    // apply verbatim.
    "t11_tvf_bm25" -> coreOracleSql("r01_bm25_topk"),
    "t12_tvf_stratified_sample" -> coreOracleSql("d19_stratified_sample"),
    // t13: per-version row counts == the LWW cardinalities the landing
    // batches imply (v0 = batch-1 keys, v1 = union of both key sets).
    "t13_tvf_history" ->
      s"""WITH b1 AS (${cocoaBatchSql("b1", "2023-11-14 22:13:20")}),
         |b2 AS (${cocoaBatchSql("b2", "2023-11-14 22:15:00")})
         |SELECT CAST(0 AS BIGINT) AS version,
         |  (SELECT count(DISTINCT shipment_id) FROM b1) AS n_rows
         |UNION ALL
         |SELECT CAST(1 AS BIGINT) AS version,
         |  (SELECT count(DISTINCT shipment_id) FROM
         |    (SELECT shipment_id FROM b1
         |     UNION ALL SELECT shipment_id FROM b2)) AS n_rows
         |ORDER BY version""".stripMargin,
    // t14/t15: the maintenance procedures return the post-op current
    // snapshot — p01's oracle certifies compact/vacuum changed layout
    // and retention, never content.
    "t14_tvf_compact" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "t15_tvf_vacuum" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // t16: the clone reads the SOURCE's data dir through its pointer —
    // p01's full-warehouse oracle; t17: restore-to-v0 == the batch-1
    // warehouse (p05/p13's contract through the SQL door).
    "t16_tvf_clone" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "t17_tvf_restore" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    // s17 (not a TVF, but its oracle ALIASES a core entry, and alias
    // entries must live OUTSIDE the coreOracleSql literal — a
    // self-reference inside the lazy val's own initializer recurses):
    // the streamed pair union over any batch split equals the
    // exhaustive pairs-touching-the-increment set — d28's oracle.
    "s17_stream_neardup_gate" -> coreOracleSql("d28_incremental_neardups"),
    // s18: the streamed change feed, flattened to p07's change shape,
    // must carry exactly the v0→v1 change set (p07/p10/t08's oracle —
    // the fourth consumption path of one transition).
    "s18_stream_change_feed" -> cocoaVersionDiffOracleSql,
    "t04_tvf_upsert" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey <= 2000),
        |u AS (
        |  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus FROM orders
        |  WHERE o_orderkey > 1000 AND o_orderkey <= 3000)
        |SELECT * FROM (
        |  SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
        |  UNION ALL
        |  SELECT * FROM u)
        |ORDER BY o_orderkey""".stripMargin)

  private lazy val coreOracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(floor(l_extendedprice * 100 + 0.5)) / 100.0 AS sum_base_price,
        |  sum(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)) / 10000.0 AS sum_disc_price,
        |  avg(l_quantity) AS avg_qty,
        |  avg(floor(l_discount * 100 + 0.5)) / 100.0 AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        |  floor(l_extendedprice * (1.0 - l_discount) * 100 + 0.5) / 100.0 AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_shipdate < TIMESTAMP '1995-09-01'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_revenue_by_nation" ->
      """SELECT n_name, sum(floor(o_totalprice * 100 + 0.5)) / 100.0 AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q04_revenue_by_region" ->
      """SELECT r_name, sum(floor(o_totalprice * 100 + 0.5)) / 100.0 AS revenue, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name
        |ORDER BY r_name""".stripMargin,
    "q05_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q06_best_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q07_distinct_counts" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_rows
        |FROM lineitem""".stripMargin,
    "q08_customers_without_orders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q09_big_spenders" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q10_set_intersect" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,
    "q11_set_union" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT o_custkey AS c_custkey FROM orders WHERE o_totalprice > 450000.0
        |ORDER BY c_custkey""".stripMargin,
    "q12_set_except" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |EXCEPT
        |SELECT o_custkey AS c_custkey FROM orders
        |ORDER BY c_custkey""".stripMargin,
    "q13_latest_event_per_user" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1
        |ORDER BY user_id""".stripMargin,
    "q14_daily_event_stats" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type, count(*) AS n,
        |  sum(floor(value * 100 + 0.5)) / 100.0 AS total_value,
        |  avg(floor(value * 100 + 0.5)) / 100.0 AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q15_rollup_quantities" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q16_scalar_functions" ->
      """SELECT o_orderkey,
        |  upper(o_orderpriority) AS pri_upper,
        |  substring(o_orderstatus, 1, 1) AS status_1,
        |  year(o_orderdate) AS order_year,
        |  month(o_orderdate) AS order_month,
        |  floor(o_totalprice * 0.1 * 100 + 0.5) / 100.0 AS tithe,
        |  length(o_orderpriority) AS pri_len,
        |  concat_ws('#', o_orderstatus, o_orderpriority) AS tag
        |FROM orders
        |WHERE o_orderkey <= 1000
        |ORDER BY o_orderkey""".stripMargin,
    "q17_frequent_customers" ->
      """SELECT o_custkey, count(*) AS n_orders,
        |  sum(floor(o_totalprice * 100 + 0.5)) / 100.0 AS total_spent
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 15
        |ORDER BY o_custkey""".stripMargin,
    "q18_revenue_by_brand" ->
      """SELECT p_brand,
        |  sum(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    "q21_salted_revenue_by_brand" ->
      """SELECT p_brand,
        |  sum(floor(l_extendedprice * (1.0 - l_discount) * 10000 + 0.5)) / 10000.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin,
    // q22: the sketch VALUES aren't cross-engine comparable, so the
    // query emits the exact side plus boolean bounded-error
    // certificates; DuckDB recomputes the exact counts and the
    // certificates are literal TRUE — green only when Spark's
    // HLL++/quantile sketches actually land inside their bounds.
    "q22_approx_stats" ->
      """SELECT count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_suppkey) AS exact_supps,
        |  TRUE AS parts_ok, TRUE AS supps_ok,
        |  TRUE AS p50_ok, TRUE AS p99_ok
        |FROM lineitem""".stripMargin,
    "q19_sessionize" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |                             ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |                              ORDER BY ts ASC, event_id ASC) IS NULL
        |             OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
        |                              ORDER BY ts ASC, event_id ASC)) > 1800000
        |           THEN 1 ELSE 0 END AS new_sess
        |    FROM events) a) b
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "s03_stateful_sessions" ->
      """SELECT user_id, session_id, count(*) AS n_events,
        |  min(epoch_ms(ts)) AS start_ms, max(epoch_ms(ts)) AS end_ms
        |FROM (
        |  SELECT user_id, event_id, ts,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |                             ORDER BY ts ASC, event_id ASC) AS BIGINT) AS session_id
        |  FROM (
        |    SELECT user_id, event_id, ts,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |                              ORDER BY ts ASC, event_id ASC) IS NULL
        |             OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
        |                              ORDER BY ts ASC, event_id ASC)) > 1800000
        |           THEN 1 ELSE 0 END AS new_sess
        |    FROM events) a) b
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "s01_streaming_daily_stats" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type, count(*) AS n,
        |  sum(floor(value * 100 + 0.5)) / 100.0 AS total_value,
        |  avg(floor(value * 100 + 0.5)) / 100.0 AS avg_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,
    "q20_above_average_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
        |FROM (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |    avg(floor(o_totalprice * 100 + 0.5)) OVER (PARTITION BY o_custkey) / 100.0 AS cust_avg
        |  FROM orders) t
        |WHERE o_totalprice > cust_avg * 1.8
        |ORDER BY o_orderkey""".stripMargin,
    "d01_exact_dedup_groups" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY 1
        |ORDER BY content_hash""".stripMargin,
    "d02_token_stats" ->
      """SELECT doc_id,
        |  len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |      x -> x <> '')) AS n_tokens,
        |  length(text) AS n_chars_text
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "d03_punct_counts" ->
      """SELECT doc_id,
        |  length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q23_pivot_quantities" ->
      """SELECT l_linestatus,
        |  sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END) AS A,
        |  sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END) AS N,
        |  sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END) AS R
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "q24_token_frequencies" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                x -> x <> '')) AS token
        |  FROM documents) t
        |GROUP BY token
        |ORDER BY n DESC, token ASC
        |LIMIT 50""".stripMargin,
    "q25_date_arithmetic" ->
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 30 DAY AS due_date,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_eoy,
        |  dayofweek(o_orderdate) + 1 AS dow,
        |  quarter(o_orderdate) AS qtr
        |FROM orders
        |WHERE o_orderkey <= 2000
        |ORDER BY o_orderkey""".stripMargin,
    "q26_string_functions" ->
      """SELECT c_custkey,
        |  lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key,
        |  regexp_replace(c_name, 'Customer', 'Cust') AS short_name,
        |  instr(c_name, '#') AS hash_pos,
        |  reverse(c_mktsegment) AS seg_rev,
        |  repeat(substring(c_mktsegment, 1, 1), 3) AS seg_x3
        |FROM customer
        |WHERE c_custkey <= 200
        |ORDER BY c_custkey""".stripMargin,
    "q27_price_tiers" ->
      """SELECT CASE WHEN o_totalprice < 100000.0 THEN 'low'
        |            WHEN o_totalprice < 250000.0 THEN 'mid'
        |            ELSE 'high' END AS tier,
        |  count(*) AS n
        |FROM orders
        |GROUP BY 1
        |ORDER BY tier""".stripMargin,
    "q28_null_semantics" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        |  count(nullif(o_orderstatus, 'O')) AS n_not_open,
        |  CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NOT NULL
        |                THEN 1 ELSE 0 END) AS BIGINT) AS n_not_open2
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q30_cube_quantities" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  sum(l_quantity) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q31_left_join_brands" ->
      """SELECT coalesce(p_brand, 'NONE') AS brand,
        |  count(*) AS n_items, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |LEFT JOIN (SELECT * FROM part WHERE p_size >= 40) p ON l_partkey = p_partkey
        |GROUP BY 1
        |ORDER BY brand""".stripMargin,
    "q32_full_outer_year_spend" ->
      """WITH y95 AS (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)) / 100.0 AS spend_1995
        |  FROM orders WHERE year(o_orderdate) = 1995 GROUP BY o_custkey),
        |y96 AS (
        |  SELECT o_custkey, sum(floor(o_totalprice * 100 + 0.5)) / 100.0 AS spend_1996
        |  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY o_custkey)
        |SELECT coalesce(y95.o_custkey, y96.o_custkey) AS o_custkey,
        |  coalesce(spend_1995, 0.0) AS spend_1995,
        |  coalesce(spend_1996, 0.0) AS spend_1996
        |FROM y95 FULL OUTER JOIN y96 ON y95.o_custkey = y96.o_custkey
        |ORDER BY o_custkey""".stripMargin,
    // q35: the custom TopKPerKey plan node must equal the classic
    // row_number-window formulation exactly.
    "q35_native_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin,
    // q34: DuckDB's NATIVE ASOF JOIN is the oracle for the composed
    // union+window implementation — same point-in-time semantics
    // (greatest right ts <= left ts per key, LEFT null when none).
    "q34_asof_clicks" ->
      """WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, epoch_ms(p.ts) AS ts_ms,
        |  epoch_ms(c.ts) AS click_ts_ms, c.value AS click_value
        |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.event_id""".stripMargin,
    "q33_percentile_spend" ->
      """SELECT o_orderstatus,
        |  quantile_disc(o_totalprice, 0.25) AS p25,
        |  quantile_disc(o_totalprice, 0.5) AS p50,
        |  quantile_disc(o_totalprice, 0.75) AS p75,
        |  count(*) AS n
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // North-star oracles. All quantized decimals use the floor form
    // (see graft.functions.Quantize): identical double arithmetic on
    // both engines, unlike round().
    "d04_quality_scores" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS cjk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, punct, cjk,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CASE WHEN len(toks) > 0
        |         THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','that','it','for','on','with','as','this'], x))) AS DOUBLE) / len(toks)
        |         ELSE 0.0 END AS sw_en
        |  FROM t),
        |s AS (
        |  SELECT doc_id,
        |    least(n_chars / 200.0, 1.0) AS len_score,
        |    1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0) AS punct_score,
        |    least(greatest(sw_en, cjk) * 5.0, 1.0) AS sw_score,
        |    CASE WHEN (CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END AS wl_score
        |  FROM r)
        |SELECT doc_id,
        |  floor((len_score * 0.3 + punct_score * 0.2 + sw_score * 0.3 + wl_score * 0.2) * 10000 + 0.5) / 10000.0 AS quality
        |FROM s ORDER BY doc_id""".stripMargin,
    "d05_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS cjk
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, cjk,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','that','it','for','on','with','as','this'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_en,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_es,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','mit','den','ein','eine','zu','im','auf','nicht'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_de,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','sur','avec'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_fr
        |  FROM t),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN cjk > 0.05 THEN 'zh'
        |         WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |         WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
        |         WHEN s_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS lang_pred
        |  FROM r)
        |SELECT doc_id, lang, lang_pred, CAST(CAST(lang = lang_pred AS INT) AS BIGINT) AS correct
        |FROM p ORDER BY doc_id""".stripMargin,
    // d07's MinHash-LSH candidates verify exact shingle Jaccard, and
    // 32 bands × 4 rows hold the per-pair miss probability below 1e-8
    // at the fixture's minimum pair Jaccard — so the output IS the
    // exhaustive ≥ 0.5 pair set and shares d09's oracle shape. The
    // filter applies to the QUANTIZED value, exactly as the operator
    // does.
    "d07_minhash_near_dups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM pairs WHERE floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // d28: d07's exhaustive ground truth restricted to pairs touching
    // the planted increment (every planted id ≥ 100000 > every corpus
    // id, and pairs are a<b-normalized, so "touches the increment" ≡
    // "id_b ≥ 100000"). Same band-miss argument as d07 makes the
    // incremental LSH path exactly this set.
    "d28_incremental_neardups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id AND b.doc_id >= 100000
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM pairs WHERE floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,
    // d29: three planted increment populations — verbatim re-crawls
    // (dropped by the corpus hash index), new mutated texts (kept),
    // and higher-id echoes of those texts (collapsed within the
    // increment, smallest id winning) — recomputed in SQL.
    "d29_incremental_exact" ->
      """WITH corpus AS (SELECT doc_id, text FROM documents),
        |src AS (SELECT doc_id, text FROM documents WHERE doc_id < 40 AND text IS NOT NULL),
        |inc AS (
        |  SELECT doc_id + 200000 AS doc_id, text FROM src
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM src
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, text || ' graftmark' AS text FROM src),
        |kept AS (
        |  SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |    FROM inc) WHERE rn = 1)
        |SELECT k.doc_id, md5(k.text) AS content_hash
        |FROM kept k
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE md5(c.text) = md5(k.text))
        |ORDER BY doc_id""".stripMargin,
    // d08 recomputes the ENTIRE SimHash sketch in SQL: the portable
    // token hash (poly-31 over codepoints + two 32-bit-constant
    // multiply/xorshift rounds; see SketchExpressions.
    // portableTokenHash64) wraps mod 2^64 via HUGEINT intermediates,
    // and the pigeonhole chunk join on the Spark side guarantees exact
    // recall at hamming ≤ 6 — so both engines produce the identical
    // exhaustive hamming-≤-6 pair set.
    "d08_simhash_near_dups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS t
        |  FROM docs),
        |h0 AS (
        |  SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
        |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS UBIGINT) AS h
        |  FROM tok),
        |f1 AS (SELECT doc_id, CAST((CAST(xor(h, h >> 33) AS HUGEINT) * 4283543511) % 18446744073709551616 AS UBIGINT) AS z FROM h0),
        |f2 AS (SELECT doc_id, CAST((CAST(xor(z, z >> 29) AS HUGEINT) * 3301882366) % 18446744073709551616 AS UBIGINT) AS z FROM f1),
        |th AS (SELECT doc_id, xor(z, z >> 32) AS h FROM f2),
        |bits AS (
        |  SELECT doc_id, b.b AS bit,
        |    CASE WHEN sum(CASE WHEN ((h >> CAST(b.b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS s
        |  FROM th, generate_series(0, 63) b(b)
        |  GROUP BY doc_id, b.b),
        |sims AS (
        |  SELECT doc_id, CAST(sum(CASE WHEN s = 1 THEN CAST(CAST(1 AS UBIGINT) << CAST(bit AS INT) AS HUGEINT) ELSE 0 END) AS UBIGINT) AS sim
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
        |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim, b.sim)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,
    // d12: per-document portable SimHash — same sketch recomputation
    // as d08's oracle, reduced to the raw sketch value (converted to
    // the signed 64-bit value Spark's LongType holds).
    "d12_sql_simhash" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |h0 AS (
        |  SELECT doc_id, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
        |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS UBIGINT) AS h
        |  FROM tok),
        |f1 AS (SELECT doc_id, CAST((CAST(xor(h, h >> 33) AS HUGEINT) * 4283543511) % 18446744073709551616 AS UBIGINT) AS z FROM h0),
        |f2 AS (SELECT doc_id, CAST((CAST(xor(z, z >> 29) AS HUGEINT) * 3301882366) % 18446744073709551616 AS UBIGINT) AS z FROM f1),
        |th AS (SELECT doc_id, xor(z, z >> 32) AS h FROM f2),
        |bits AS (
        |  SELECT doc_id, b.b AS bit,
        |    CASE WHEN sum(CASE WHEN ((h >> CAST(b.b AS INT)) & 1) = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS s
        |  FROM th, generate_series(0, 63) b(b)
        |  GROUP BY doc_id, b.b),
        |sims AS (
        |  SELECT doc_id, sum(CASE WHEN s = 1 THEN CAST(CAST(1 AS UBIGINT) << CAST(bit AS INT) AS HUGEINT) ELSE 0 END) AS sim
        |  FROM bits GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(CASE WHEN sim >= 9223372036854775808 THEN sim - 18446744073709551616 ELSE sim END AS BIGINT) AS sim
        |FROM sims ORDER BY doc_id""".stripMargin,
    // v03's planted perturbation is plain integer arithmetic (not a
    // Spark hash), so the oracle rebuilds the identical corpus: DuckDB
    // lambda indexes are 1-based, hence (i-1); the float add rounds
    // identically in both engines (a double add of two floats is
    // exact, so rounding to float equals single-precision IEEE add).
    // 16 LSH tables hold the per-pair miss at ~1e-7, so the LSH
    // operator's output is deterministically the exhaustive ≥ 0.95
    // pair set.
    "v03_embedding_near_dups" ->
      """WITH planted AS (
        |  SELECT vec_id + 100000 AS pid,
        |    list_transform(embedding, (x, i) ->
        |      CAST(x + CAST(CAST(((((vec_id + 100000) * 2654435761 + (i - 1) * 40503) % 2001) - 1000) AS DOUBLE) / 20000.0 AS FLOAT) AS FLOAT)) AS emb
        |  FROM embeddings WHERE vec_id < 40),
        |corpus AS (
        |  SELECT vec_id, embedding AS emb FROM embeddings
        |  UNION ALL SELECT pid AS vec_id, emb FROM planted),
        |e AS (
        |  SELECT vec_id, emb::DOUBLE[] AS v,
        |    sqrt(list_dot_product(emb::DOUBLE[], emb::DOUBLE[])) AS nrm
        |  FROM corpus),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    floor((CASE WHEN a.nrm * b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END) * 10000 + 0.5) / 10000.0 AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.95
        |ORDER BY id_a, id_b""".stripMargin,
    "d09_ngram_jaccard_near_dups" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT id_a, id_b, floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM pairs WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    // d47: the exhaustive R-S cross join — query side is the planted
    // mutation table, corpus side the raw documents; same shingle
    // construction and 4-dp quantization as d09. Algorithm-independent
    // of the engine's prefix-filtered route, so the hash match is an
    // exact-recall certificate for the R-S prefix path.
    "d47_fuzzy_join" ->
      """WITH q AS (
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text
        |  FROM documents WHERE doc_id < 40),
        |c AS (SELECT doc_id, text FROM documents),
        |tq AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM q WHERE text IS NOT NULL),
        |tc AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM c WHERE text IS NOT NULL),
        |sq AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tq),
        |sc AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tc),
        |pq AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sq),
        |pc AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sc),
        |pairs AS (
        |  SELECT a.doc_id AS query_id, b.doc_id AS corpus_id,
        |    a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM pq a JOIN pc b ON a.g = b.g
        |  GROUP BY 1, 2, 3, 4)
        |SELECT query_id, corpus_id,
        |  floor(CAST(inter AS DOUBLE) / (sa + sb - inter) * 10000 + 0.5) / 10000.0 AS jaccard
        |FROM pairs WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4
        |ORDER BY query_id, corpus_id""".stripMargin,
    // d48: the same prefix rule re-derived — rank by (count desc,
    // token asc), keep tokens whose PRECEDING cumulative mass is
    // short of ceil(total*0.99), then per-doc UNK floor basis points.
    "d48_vocab_coverage" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      x -> x <> '')) AS tok
        |  FROM documents WHERE text IS NOT NULL),
        |counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
        |tot AS (SELECT sum(c) AS t FROM counts),
        |ranked AS (
        |  SELECT tok, c, sum(c) OVER (ORDER BY c DESC, tok) AS cum FROM counts),
        |vocab AS (
        |  SELECT tok FROM ranked, tot WHERE (cum - c) * 10000 < t * 9900),
        |vs AS (SELECT count(*) AS vsize FROM vocab),
        |per AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN tok NOT IN (SELECT tok FROM vocab)
        |        THEN 1 ELSE 0 END) AS n_unk
        |  FROM tok GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_unk AS BIGINT) AS n_unk,
        |  CAST(n_unk * 10000 // n_tokens AS BIGINT) AS unk_bp,
        |  CAST(vs.vsize AS BIGINT) AS vocab_size
        |FROM per, vs ORDER BY doc_id""".stripMargin,
    // d37: canonicalize-then-link re-derived — same titles, same typo
    // plant (1-based inclusive slicing both engines), exact dedup to
    // min-id representatives, candidates from ANY shared 5-gram (a
    // SUPERSET of the operator's prefix-filtered candidates; both
    // have exact recall at len >= 17, and exact levenshtein
    // verification makes the final pair set independent of the
    // candidate route), length-band prune, verified in both engines.
    "d37_edit_distance_pairs" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')[1:5], ' ') AS title
        |  FROM documents WHERE text IS NOT NULL),
        |docs AS (
        |  SELECT doc_id, title FROM base
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id,
        |    substr(title, 1, 2) || 'z' || substr(title, 4, 1000000) AS title
        |  FROM base WHERE doc_id < 30),
        |s0 AS (SELECT min(doc_id) AS doc_id, title FROM docs GROUP BY title),
        |s AS (SELECT doc_id, title, length(title) AS len FROM s0 WHERE length(title) >= 17),
        |g AS (
        |  SELECT doc_id, len,
        |    unnest(list_distinct(list_transform(range(1, length(title) - 3), i -> title[i:i+4]))) AS g
        |  FROM s),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |    AND abs(a.len - b.len) <= 2)
        |SELECT c.id_a, c.id_b, CAST(levenshtein(x.title, y.title) AS BIGINT) AS dist
        |FROM cand c
        |JOIN s x ON x.doc_id = c.id_a
        |JOIN s y ON y.doc_id = c.id_b
        |WHERE levenshtein(x.title, y.title) <= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // d35: directed containment |A∩B|/|A| over the excerpt-planted
    // corpus — same tokenize/shingle CTEs as d09, the excerpt planted
    // by the same 25-token slice (DuckDB list slicing is 1-based
    // inclusive, equal to Spark's slice(toks, 1, 25)), both directions
    // evaluated from one undirected intersection count.
    "d35_containment_pairs" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')[1:25], ' ') AS text
        |  FROM documents WHERE doc_id < 30 AND text IS NOT NULL),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |directed AS (
        |  SELECT id_a AS contained_id, id_b AS container_id,
        |    CAST(inter AS DOUBLE) / sa AS c FROM pairs
        |  UNION ALL
        |  SELECT id_b AS contained_id, id_a AS container_id,
        |    CAST(inter AS DOUBLE) / sb AS c FROM pairs)
        |SELECT contained_id, container_id,
        |  floor(c * 10000 + 0.5) / 10000.0 AS containment
        |FROM directed WHERE c >= 0.8
        |ORDER BY contained_id, container_id""".stripMargin,
    // d13: transitive closure of the ≥ 0.4 Jaccard pair graph via a
    // recursive CTE — cluster id = min reachable doc id, exactly the
    // converged min-label propagation the Spark operator runs.
    "d13_neardup_clusters" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (
        |  SELECT id_a, id_b FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // d49: the d13 closure re-derived, then the split keyed on the
    // cluster id (own id when unclustered) via the portable 48-bit
    // md5-prefix bucket — the leakage-safety rule itself is what the
    // hash certifies (every cluster member shares group_key ⇒ split).
    "d49_group_split" ->
      s"""WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (
        |  SELECT id_a, id_b FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |keyed AS (
        |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS group_key
        |  FROM (SELECT doc_id FROM docs WHERE text IS NOT NULL) d
        |  LEFT JOIN cl c ON d.doc_id = c.doc_id),
        |bk AS (
        |  SELECT doc_id, group_key,
        |    ${hex48Sql("CAST(group_key AS VARCHAR)")} % 100 AS bucket
        |  FROM keyed)
        |SELECT doc_id, group_key, CAST(bucket AS BIGINT) AS bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,
    // d27: the d13 cluster closure joined with the d04 quality chain;
    // keep each cluster's highest-quality member (ties by doc_id).
    // Quality is the shared floor-half-up 4dp quantization, so the
    // DESC ordering agrees bit-for-bit across engines.
    "d27_cluster_reps" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM docs WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (
        |  SELECT id_a, id_b FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id),
        |qt AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS cjk
        |  FROM docs),
        |qr AS (
        |  SELECT doc_id, n_chars, punct, cjk,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','that','it','for','on','with','as','this'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_en
        |  FROM qt),
        |q AS (
        |  SELECT doc_id,
        |    floor((least(n_chars / 200.0, 1.0) * 0.3
        |         + (1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0)) * 0.2
        |         + least(greatest(s_en, cjk) * 5.0, 1.0) * 0.3
        |         + (CASE WHEN (CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2) * 10000 + 0.5) / 10000.0 AS quality
        |  FROM qr),
        |ranked AS (
        |  SELECT c.cluster_id, c.doc_id, q.quality,
        |    row_number() OVER (PARTITION BY c.cluster_id ORDER BY q.quality DESC, c.doc_id) AS rn,
        |    count(*) OVER (PARTITION BY c.cluster_id) AS nm
        |  FROM cl c JOIN q ON c.doc_id = q.doc_id)
        |SELECT cluster_id, doc_id, quality, CAST(nm AS BIGINT) AS n_members
        |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin,
    // d14: the full cleaning composite — quality/lang gate (d04/d05
    // kernels), exact dedup, then the d13 closure over survivors;
    // keep each cluster's minimum id. Every stage re-derived in SQL.
    // d15: the oracle recomputes the ENTIRE per-group MinHash union
    // sketch — portable shingle hash (d07's shingle spelling + d08's
    // poly-31/mix finalizer) then, per inlined permutation seed,
    // mix(h ⊕ seed) minimized per (lang, source) as SIGNED 64-bit
    // (the comparison order Spark's Long minima use).
    "d15_group_minhash" -> groupMinhashOracleSql,
    "d14_corpus_clean" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000 AS doc_id, text || ' graftmark' AS text FROM documents WHERE doc_id < 40),
        |t AS (
        |  SELECT doc_id, text,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS cjk
        |  FROM docs),
        |r AS (
        |  SELECT doc_id, text, n_chars, punct, cjk,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','that','it','for','on','with','as','this'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_en,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['el','la','de','que','y','en','un','una','los','las','por','con','para','es'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_es,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','mit','den','ein','eine','zu','im','auf','nicht'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_de,
        |    CASE WHEN len(toks) > 0 THEN CAST(len(list_filter(toks, x -> list_contains(['le','la','les','de','des','et','est','un','une','dans','que','pour','sur','avec'], x))) AS DOUBLE) / len(toks) ELSE 0.0 END AS s_fr
        |  FROM t),
        |q AS (
        |  SELECT doc_id, text,
        |    floor((least(n_chars / 200.0, 1.0) * 0.3
        |         + (1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0)) * 0.2
        |         + least(greatest(s_en, cjk) * 5.0, 1.0) * 0.3
        |         + (CASE WHEN (CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END) * 0.2) * 10000 + 0.5) / 10000.0 AS quality,
        |    CASE WHEN cjk > 0.05 THEN 'zh'
        |         WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |         WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
        |         WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
        |         WHEN s_fr > 0 THEN 'fr'
        |         ELSE 'und' END AS lang_pred
        |  FROM r),
        |gated AS (
        |  SELECT doc_id, text, quality, lang_pred FROM q
        |  WHERE quality >= 0.6 AND lang_pred = 'en'),
        |ex AS (
        |  SELECT doc_id, text, quality, lang_pred,
        |    row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM gated),
        |kept AS (SELECT doc_id, text, quality, lang_pred FROM ex WHERE rn = 1),
        |tok2 AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM kept WHERE text IS NOT NULL),
        |sh2 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 3
        |         THEN list_distinct(list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok2),
        |post AS (SELECT doc_id, len(shingles) AS ss, unnest(shingles) AS g FROM sh2),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.ss AS sa, b.ss AS sb, count(*) AS inter
        |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4),
        |jp AS (
        |  SELECT id_a, id_b FROM pairs
        |  WHERE CAST(inter AS DOUBLE) / (sa + sb - inter) >= 0.4),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
        |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT k.doc_id, k.lang_pred, k.quality
        |FROM kept k LEFT JOIN clusters c ON k.doc_id = c.doc_id
        |WHERE c.cluster_id IS NULL OR c.cluster_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    "d11_bpe_token_counts" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_bpe_tokens,
        |  len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS n_ws_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    // d20: the line-level boilerplate strip re-derived exactly — the
    // oracle re-plants the footer lines, recomputes line document
    // frequencies, strips df > 10 candidates, and md5s the rebuilt
    // text (order preserved via subscripts).
    "d20_line_dedup" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text || chr(10) || '-- graft footer --' || chr(10) || 'subscribe to graft weekly' AS text
        |  FROM documents WHERE text IS NOT NULL),
        |ln AS (
        |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS idx
        |  FROM d),
        |cand AS (SELECT DISTINCT doc_id, line FROM ln WHERE length(line) >= 1),
        |dfq AS (SELECT line, count(*) AS ndocs FROM cand GROUP BY line),
        |boiler AS (SELECT line FROM dfq WHERE ndocs > 10),
        |kept AS (
        |  SELECT l.doc_id, l.idx, l.line FROM ln l
        |  WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.line = l.line)),
        |tot AS (SELECT doc_id, len(string_split(text, chr(10))) AS n_total FROM d),
        |agg AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list(line ORDER BY idx), chr(10))) AS clean_md5,
        |    count(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, coalesce(a.clean_md5, md5('')) AS clean_md5,
        |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_kept,
        |  CAST(t.n_total - coalesce(a.n_kept, 0) AS BIGINT) AS n_lines_removed
        |FROM tot t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // d21: the repetition signals recomputed from the same token/line
    // streams — integer counts, one double division per signal, the
    // shared floor-half-up 4dp quantization.
    "d21_repetition_signals" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    string_split(text, chr(10)) AS ls
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id,
        |    CAST(len(ls) AS DOUBLE) AS nl,
        |    CAST(len(list_distinct(ls)) AS DOUBLE) AS dl,
        |    CASE WHEN len(toks) >= 5
        |         THEN list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' '))
        |         ELSE [] END AS g5,
        |    CASE WHEN len(toks) >= 2
        |         THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' '))
        |         ELSE [] END AS g2
        |  FROM base),
        |c AS (
        |  SELECT doc_id, nl, dl,
        |    CAST(len(g5) AS DOUBLE) AS n5, CAST(len(list_distinct(g5)) AS DOUBLE) AS d5, g2
        |  FROM g),
        |t2 AS (
        |  SELECT doc_id, CAST(max(cnt) AS DOUBLE) AS mc, CAST(sum(cnt) AS DOUBLE) AS tc
        |  FROM (SELECT doc_id, gg, count(*) AS cnt
        |        FROM (SELECT doc_id, unnest(g2) AS gg FROM c) GROUP BY doc_id, gg)
        |  GROUP BY doc_id),
        |j AS (
        |  SELECT c.doc_id, c.nl, c.dl, c.n5, c.d5,
        |    coalesce(t2.mc, 0) AS mc, coalesce(t2.tc, 0) AS tc
        |  FROM c LEFT JOIN t2 ON c.doc_id = t2.doc_id)
        |SELECT doc_id,
        |  floor((CASE WHEN nl > 0 THEN (nl - dl) / nl ELSE 0 END) * 10000 + 0.5) / 10000.0 AS dup_line_frac,
        |  floor((CASE WHEN n5 > 0 THEN (n5 - d5) / n5 ELSE 0 END) * 10000 + 0.5) / 10000.0 AS dup_5gram_frac,
        |  floor((CASE WHEN tc > 0 THEN mc / tc ELSE 0 END) * 10000 + 0.5) / 10000.0 AS top_2gram_frac
        |FROM j ORDER BY doc_id""".stripMargin,
    // d22: the packing manifest re-derived — same token counts, same
    // per-language running offsets (window cumsum), same boundary
    // arithmetic in integer SQL.
    "d22_sequence_packing" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')) AS n
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT doc_id, lang, n FROM tok WHERE n > 0),
        |o AS (
        |  SELECT doc_id, lang, n,
        |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS strt
        |  FROM t),
        |sp AS (
        |  SELECT doc_id, lang, n, strt,
        |    unnest(range(CAST(strt // 256 AS BIGINT), CAST((strt + n - 1) // 256 + 1 AS BIGINT))) AS seq_id
        |  FROM o)
        |SELECT lang, CAST(seq_id AS BIGINT) AS seq_id, doc_id,
        |  CAST(least((seq_id + 1) * 256, strt + n) - greatest(seq_id * 256, strt) AS BIGINT) AS n_tokens
        |FROM sp ORDER BY lang, seq_id, doc_id""".stripMargin,
    // d23: PII scrub re-derived — the oracle re-plants the same
    // doc_id-arithmetic PII spans, applies the same RE2-subset
    // patterns with regexp_replace(..., 'g'), and hashes the scrubbed
    // text; the match counts audit the finder side.
    "d23_pii_scrub" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call 555-867-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' today' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) || '.' || CAST(doc_id % 250 AS VARCHAR) || ' logged' ELSE '' END
        |    AS text
        |  FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g'),
        |    '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g')) AS scrub_md5,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(text, '\b([0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS BIGINT) AS n_ips
        |FROM d ORDER BY doc_id""".stripMargin,
    // d24: URL extraction + domain blocklist re-derived — same
    // re-planted links, same URL/host regexes, the blocklist as an
    // IN-list (the Spark side broadcasts it as a 5-row table).
    "d24_url_domain_filter" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' see https://site' || CAST(doc_id % 50 AS VARCHAR) || '.example.org/p/' || CAST(doc_id AS VARCHAR) || ' ok' ELSE '' END ||
        |    CASE WHEN doc_id % 10 = 0 THEN ' ref http://ads' || CAST((doc_id // 10) % 5 AS VARCHAR) || '.blocked.net/x' ELSE '' END
        |    AS text
        |  FROM documents WHERE text IS NOT NULL),
        |u AS (
        |  SELECT doc_id, unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9._~:/?#@!$&*+,;=%-]+')) AS url
        |  FROM d),
        |dom AS (
        |  SELECT doc_id, regexp_extract(url, '^https?://([^/?#]+)', 1) AS domain FROM u),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_urls,
        |    sum(CASE WHEN domain IN ('ads0.blocked.net','ads1.blocked.net','ads2.blocked.net','ads3.blocked.net','ads4.blocked.net') THEN 1 ELSE 0 END) AS n_blocked
        |  FROM dom GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(a.n_urls, 0) AS BIGINT) AS n_urls,
        |  CAST(coalesce(a.n_blocked, 0) AS BIGINT) AS n_blocked,
        |  coalesce(a.n_blocked, 0) = 0 AS keep
        |FROM d LEFT JOIN agg a ON d.doc_id = a.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // d25: cross-doc duplicate-span coverage re-derived — same
    // re-planted slogan, same positional 8-grams, the interval union
    // as the same lag-window arithmetic (1-based vs 0-based positions
    // cancel in the lag distances).
    "d25_dup_spans" ->
      """WITH d AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 6 = 0 THEN ' u' || CAST(doc_id AS VARCHAR) || ' data engine scale spark graftx join hash merge sort batch stream window' ELSE '' END
        |    AS text
        |  FROM documents WHERE text IS NOT NULL),
        |b AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM d),
        |t AS (
        |  SELECT doc_id, len(toks) AS n,
        |    CASE WHEN len(toks) >= 8
        |         THEN list_transform(range(1, len(toks) - 6), i -> array_to_string(toks[i:i+7], ' '))
        |         ELSE [] END AS gs
        |  FROM b),
        |ex AS (
        |  SELECT doc_id, unnest(gs) AS g, generate_subscripts(gs, 1) AS pos FROM t),
        |dup AS (
        |  SELECT g FROM (
        |    SELECT g, count(*) AS nd FROM (SELECT DISTINCT doc_id, g FROM ex) GROUP BY g)
        |  WHERE nd > 1),
        |dp AS (SELECT e.doc_id, e.pos FROM ex e JOIN dup USING (g)),
        |w AS (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM dp),
        |c AS (
        |  SELECT doc_id, count(*) AS ndg,
        |    sum(CASE WHEN prev IS NULL THEN 8 ELSE least(8, pos - prev) END) AS cov
        |  FROM w GROUP BY doc_id)
        |SELECT t.doc_id, CAST(t.n AS BIGINT) AS n_tokens,
        |  CAST(coalesce(c.ndg, 0) AS BIGINT) AS n_dup_grams,
        |  floor((CASE WHEN t.n > 0 THEN CAST(coalesce(c.cov, 0) AS DOUBLE) / t.n ELSE 0 END) * 10000 + 0.5) / 10000.0 AS dup_cov
        |FROM t LEFT JOIN c ON t.doc_id = c.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    // m01: the multimodal feature kernel recomputed in SQL. Payloads
    // are real container headers (PNG 33 B / JPEG 39 B / WAV 44 B)
    // wrapping the text as content; the oracle re-derives the planned
    // dims from the content size (the fixture's deterministic choice)
    // and Spark must RECOVER those same values by actually parsing
    // the header bytes — plus md5/entropy over the content section
    // and a header_ok parse-validation certificate (literal TRUE
    // here: only a real successful parse matches).
    "m01_multimodal_features" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |    CASE WHEN doc_id % 4 = 0 THEN 33
        |         WHEN doc_id % 2 = 0 THEN 39 ELSE 44 END AS hdr,
        |    text, octet_length(encode(text)) AS n_content
        |  FROM documents),
        |s AS (SELECT asset_id, media_type, hdr, text, n_content,
        |        (n_content * 2654435761) % 1000003 AS h FROM d),
        |chars AS (SELECT asset_id, unnest(regexp_extract_all(text, '(?s).')) AS c FROM d),
        |freq AS (SELECT asset_id, c, count(*) AS cnt FROM chars GROUP BY 1, 2),
        |tot AS (SELECT asset_id, sum(cnt) AS total, count(*) AS n_uniq FROM freq GROUP BY 1),
        |ent AS (
        |  SELECT f.asset_id,
        |    -sum((CAST(cnt AS DOUBLE) / total) * ln(CAST(cnt AS DOUBLE) / total) / ln(2.0)) AS e
        |  FROM freq f JOIN tot t ON f.asset_id = t.asset_id
        |  GROUP BY f.asset_id)
        |SELECT s.asset_id, s.media_type,
        |  CAST(s.n_content + s.hdr AS BIGINT) AS n_bytes,
        |  md5(s.text) AS content_md5,
        |  CAST(CASE WHEN s.media_type = 'image' THEN 64 + (h % 1920) ELSE 0 END AS INT) AS width,
        |  CAST(CASE WHEN s.media_type = 'image' THEN 64 + ((h // 7) % 1080) ELSE 0 END AS INT) AS height,
        |  CAST(CASE WHEN s.media_type = 'audio' THEN [8000, 16000, 22050, 44100][CAST(h % 4 AS INT) + 1] ELSE 0 END AS INT) AS sample_rate,
        |  floor(ent.e * 10000 + 0.5) / 10000.0 AS char_entropy,
        |  CAST(tot.n_uniq AS BIGINT) AS n_unique_chars,
        |  TRUE AS header_ok
        |FROM s JOIN ent ON s.asset_id = ent.asset_id
        |JOIN tot ON s.asset_id = tot.asset_id
        |ORDER BY s.asset_id""".stripMargin,
    // m06: the waveform regenerated from the content-hash formula and
    // every integer stat recomputed in SQL — the Spark side must
    // recover the identical signal from the BYTES it wrote.
    "m06_audio_pcm_stats" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id,
        |    (coalesce(octet_length(encode(text)), 0) * 2654435761) % 1000003 AS h
        |  FROM documents WHERE doc_id % 2 = 1 AND doc_id < 200),
        |par AS (
        |  SELECT asset_id, h, 64 + (h % 192) AS n,
        |    [8000, 16000, 22050, 44100][CAST(h % 4 AS INT) + 1] AS sample_rate
        |  FROM d),
        |samples AS (
        |  -- n < 256 always (64 + h%192); constant range + filter
        |  -- because DuckDB's range() takes no lateral column args
        |  SELECT p.asset_id, t.i, ((p.h * (t.i + 1)) % 65536) - 32768 AS s
        |  FROM par p CROSS JOIN range(256) t(i) WHERE t.i < p.n),
        |zc AS (
        |  SELECT asset_id,
        |    CAST(sum(CASE WHEN (s < 0) <> (prev_s < 0) THEN 1 ELSE 0 END) AS BIGINT) AS z
        |  FROM (SELECT asset_id, s,
        |          lag(s) OVER (PARTITION BY asset_id ORDER BY i) AS prev_s
        |        FROM samples)
        |  WHERE prev_s IS NOT NULL GROUP BY asset_id),
        |stats AS (
        |  SELECT asset_id, CAST(count(*) AS BIGINT) AS n_samples,
        |    CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
        |    CAST(sum(s * s) AS BIGINT) AS sum_sq,
        |    CAST(max(abs(s)) AS BIGINT) AS peak
        |  FROM samples GROUP BY asset_id)
        |SELECT p.asset_id, CAST(p.sample_rate AS BIGINT) AS sample_rate,
        |  st.n_samples, st.sum_abs, st.sum_sq, st.peak,
        |  coalesce(zc.z, 0) AS zero_crossings
        |FROM par p JOIN stats st ON p.asset_id = st.asset_id
        |LEFT JOIN zc ON p.asset_id = zc.asset_id
        |ORDER BY p.asset_id""".stripMargin,
    // m05: the planned movie metadata re-derived from content-length
    // arithmetic (the Spark side PARSES it back out of real ISO BMFF
    // bytes; 357 = ftyp + moov{mvhd + trak{… stsd}} prefix, codec
    // fourcc from the stsd sample entry), duration_ms by exact
    // integer division.
    "m05_video_metadata" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id, octet_length(encode(text)) AS n_content
        |  FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
        |s AS (SELECT asset_id, n_content,
        |        (n_content * 2654435761) % 1000003 AS h FROM d)
        |SELECT asset_id,
        |  CAST(n_content + 357 AS BIGINT) AS n_bytes,
        |  CAST([600, 1000, 24000, 90000][CAST(h % 4 AS INT) + 1] AS INT) AS timescale,
        |  CAST(n_content * 3 + 7 AS BIGINT) AS duration_ticks,
        |  CAST(((n_content * 3 + 7) * 1000) // [600, 1000, 24000, 90000][CAST(h % 4 AS INT) + 1] AS BIGINT) AS duration_ms,
        |  ['avc1', 'hev1', 'mp4a', 'av01'][CAST((h // 4) % 4 AS INT) + 1] AS codec,
        |  TRUE AS header_ok
        |FROM s ORDER BY asset_id""".stripMargin,
    // m07: the planned EXIF fields re-derived from content-length
    // arithmetic — the hash certifies the full encode(planned) →
    // TIFF-IFD-walk → parsed round trip in both byte orders.
    "m07_exif_metadata" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
        |s AS (SELECT asset_id, (n * 2654435761) % 1000003 AS h FROM d)
        |SELECT asset_id,
        |  ['GraftCam', 'Nikon', 'Canon', 'OnePlus'][CAST(h % 4 AS INT) + 1] AS make,
        |  CAST((h // 4) % 8 + 1 AS INT) AS orientation,
        |  CAST([100, 200, 400, 800, 1600, 3200][CAST((h // 32) % 6 AS INT) + 1] AS INT) AS iso,
        |  CASE WHEN (h // 192) % 2 = 0 THEN 'II' ELSE 'MM' END AS endian,
        |  TRUE AS header_ok
        |FROM s ORDER BY asset_id""".stripMargin,
    // m08: the planned tag + frame fields re-derived from
    // content-length arithmetic; n_bytes additionally certifies the
    // byte-exact tag layout (10 tag header + two 11-byte-overhead
    // text frames + 4 frame-header bytes + content).
    "m08_audio_tags" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
        |s AS (SELECT asset_id, n, (n * 2654435761) % 1000003 AS h FROM d),
        |p AS (SELECT asset_id, n, h,
        |        'TRACK-' || CAST(h % 997 AS VARCHAR) AS title,
        |        ['Alpha', 'Beta', 'Gamma', 'Delta'][CAST((h // 36) % 4 AS INT) + 1] AS artist
        |      FROM s)
        |SELECT asset_id,
        |  CAST(n + 36 + length(title) + length(artist) AS BIGINT) AS n_bytes,
        |  CAST([128, 192, 256, 320][CAST(h % 4 AS INT) + 1] AS INT) AS bitrate_kbps,
        |  CAST([44100, 48000, 32000][CAST((h // 4) % 3 AS INT) + 1] AS INT) AS sample_rate,
        |  ['stereo', 'joint', 'mono'][CAST((h // 12) % 3 AS INT) + 1] AS mode,
        |  title, artist, TRUE AS header_ok
        |FROM p ORDER BY asset_id""".stripMargin,
    // m09: the planned caption fields re-derived from content-length
    // arithmetic — certifying the tEXt encode → CRC-checked chunk
    // walk → decode round trip per row.
    "m09_png_captions" ->
      """WITH d AS (
        |  SELECT doc_id AS asset_id, octet_length(encode(text)) AS n
        |  FROM documents WHERE doc_id < 200 AND text IS NOT NULL),
        |s AS (SELECT asset_id, (n * 2654435761) % 1000003 AS h FROM d)
        |SELECT asset_id,
        |  CAST([320, 640, 1024, 1920][CAST(h % 4 AS INT) + 1] AS INT) AS width,
        |  CAST([240, 480, 768, 1080][CAST((h // 4) % 4 AS INT) + 1] AS INT) AS height,
        |  'CAP-' || CAST(h % 997 AS VARCHAR) AS caption,
        |  ['crawl', 'upload', 'scan', 'synthetic'][CAST((h // 16) % 4 AS INT) + 1] AS origin,
        |  TRUE AS header_ok
        |FROM s ORDER BY asset_id""".stripMargin,
    // m04: the binary store round-trip must preserve every byte — the
    // oracle recomputes size + md5 from the originating table.
    "m04_binary_asset_source" ->
      """SELECT doc_id AS asset_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents WHERE doc_id < 200 AND text IS NOT NULL
        |ORDER BY asset_id""".stripMargin,
    // m03: the engine writes a REAL 4x4 grayscale PNG per document
    // (first 256 code points -> 16x16 source, box-mean downsample,
    // zlib IDAT encode, decode back) and emits the ARTIFACT's parsed
    // dims + inflated pixels; the oracle recomputes the expected
    // pixel bytes independently from the same code-point arithmetic.
    // png_ok is the distributed encode->decode round-trip check
    // (DuckDB emits literal TRUE, the v02 pattern).
    "m03_thumbnails" ->
      """WITH cp AS (
        |  SELECT doc_id, list_transform(
        |    regexp_extract_all(coalesce(substring(text, 1, 256), ''), '(?s).'),
        |    c -> unicode(c) % 256) AS cps
        |  FROM documents),
        |px AS (
        |  SELECT doc_id, list_transform(range(0, 16), b ->
        |    CAST(list_sum(list_transform(range(0, 16), j ->
        |      coalesce(cps[(((b // 4) * 4 + (j // 4)) * 16 + (b % 4) * 4 + (j % 4)) + 1], 0)
        |    )) // 16 AS BIGINT)) AS tp
        |  FROM cp)
        |SELECT doc_id AS asset_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |  CAST(4 AS BIGINT) AS thumb_w, CAST(4 AS BIGINT) AS thumb_h,
        |  array_to_string(list_transform(tp, v -> lower(lpad(to_hex(v), 2, '0'))), '') AS thumb_px,
        |  TRUE AS png_ok
        |FROM px ORDER BY asset_id""".stripMargin,
    "q29_json_props" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // d06: the portable rolling fingerprint recomputed step-by-step —
    // per-token poly-31+mix hashes (ordered via generate_subscripts),
    // then the same mix-chain fold, finally converted to the signed
    // 64-bit value Spark's LongType holds.
    "d06_fingerprints" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(lt) AS t, generate_subscripts(lt, 1) AS i
        |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS lt
        |        FROM documents)),
        |h0 AS (
        |  SELECT doc_id, i, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
        |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS UBIGINT) AS ph
        |  FROM toks),
        |th AS (SELECT doc_id, i, ${mixSqlU("ph")} AS h FROM h0),
        |agg AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM th GROUP BY doc_id),
        |fp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS UBIGINT), hs),
        |         (a, b) -> ${mixSqlU("xor(a, b)")}) AS f FROM agg)
        |SELECT doc_id,
        |  CAST(CASE WHEN f >= 9223372036854775808 THEN CAST(f AS HUGEINT) - 18446744073709551616
        |            ELSE CAST(f AS HUGEINT) END AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin,
    "d10_fingerprints_md5" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> ''), ' ')) AS fingerprint_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // d16: the d06 fingerprint chain reduced to bucket mod 100 —
    // ((f % 100) + 100) % 100 spells Spark's pmod over DuckDB's
    // sign-preserving %.
    "d16_train_split" ->
      s"""WITH $fingerprintCtesSql
        |SELECT doc_id, ((fingerprint % 100) + 100) % 100 AS bucket,
        |  CASE WHEN ((fingerprint % 100) + 100) % 100 < 80 THEN 'train'
        |       WHEN ((fingerprint % 100) + 100) % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM sgn ORDER BY doc_id""".stripMargin,
    // d19: the same fingerprint re-derivation as d16 (shared CTE
    // prefix), then a per-language row_number over (fingerprint,
    // doc_id) — the deterministic stratified draw reproduced in SQL.
    "d19_stratified_sample" ->
      s"""WITH $fingerprintCtesSql,
        |ranked AS (
        |  SELECT s.doc_id, d.lang,
        |    CAST(row_number() OVER (PARTITION BY d.lang
        |      ORDER BY s.fingerprint, s.doc_id) AS BIGINT) AS sample_rank
        |  FROM sgn s JOIN documents d ON s.doc_id = d.doc_id)
        |SELECT doc_id, lang, sample_rank FROM ranked
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin,
    // d36: Efraimidis–Spirakis weighted draw re-derived end-to-end —
    // d04's quality chain gives the weight, the shared fingerprint
    // CTE gives the uniform (53 bits over 2^53: both engines feed ln
    // the IDENTICAL double), ln(u)/w quantized to integer micro-nats
    // (floor-half-up), per-language top-k by score DESC.
    "d36_weighted_sample" ->
      s"""WITH $fingerprintCtesSql,
        |t AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS DOUBLE) AS n_chars,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks,
        |    CAST(length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS DOUBLE) AS punct,
        |    CASE WHEN length(text) > 0
        |         THEN CAST(length(text) - length(regexp_replace(text, '[\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE) / length(text)
        |         ELSE 0.0 END AS cjk
        |  FROM documents WHERE text IS NOT NULL),
        |r AS (
        |  SELECT doc_id, n_chars, punct, cjk,
        |    CAST(len(toks) AS DOUBLE) AS n_tok,
        |    CASE WHEN len(toks) > 0
        |         THEN CAST(len(list_filter(toks, x -> list_contains(['the','of','and','to','in','a','is','that','it','for','on','with','as','this'], x))) AS DOUBLE) / len(toks)
        |         ELSE 0.0 END AS sw_en
        |  FROM t),
        |s AS (
        |  SELECT doc_id, n_tok,
        |    least(n_chars / 200.0, 1.0) AS len_score,
        |    1.0 - least((CASE WHEN n_chars > 0 THEN punct / n_chars ELSE 0.0 END) * 10.0, 1.0) AS punct_score,
        |    least(greatest(sw_en, cjk) * 5.0, 1.0) AS sw_score,
        |    CASE WHEN (CASE WHEN n_tok > 0 THEN n_chars / n_tok ELSE 0.0 END) BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.3 END AS wl_score
        |  FROM r),
        |q AS (
        |  SELECT doc_id, n_tok,
        |    floor((len_score * 0.3 + punct_score * 0.2 + sw_score * 0.3 + wl_score * 0.2) * 10000 + 0.5) / 10000.0 AS w
        |  FROM s),
        |sc AS (
        |  SELECT q.doc_id, d.lang, q.w,
        |    CAST(floor(ln(CAST((sg.fingerprint & 9007199254740991) + 1 AS DOUBLE) / 9007199254740992.0)
        |      / q.w * 1000000 + 0.5) AS BIGINT) AS score_units
        |  FROM q
        |  JOIN sgn sg ON sg.doc_id = q.doc_id
        |  JOIN documents d ON d.doc_id = q.doc_id
        |  WHERE q.n_tok > 0 AND q.w > 0),
        |ranked AS (
        |  SELECT doc_id, lang, w,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY score_units DESC, doc_id) AS BIGINT) AS sample_rank
        |  FROM sc)
        |SELECT doc_id, lang, w, sample_rank FROM ranked
        |WHERE sample_rank <= 20
        |ORDER BY lang, sample_rank""".stripMargin,
    // d26: the mixture keep-bits re-derived from the shared
    // fingerprint CTE — same mod-10000 bucket, same per-source cut
    // arithmetic, so every kept doc_id must agree bit-for-bit.
    "d26_mixture_sample" ->
      s"""WITH $fingerprintCtesSql,
        |m AS (
        |  SELECT s.doc_id, d.source,
        |    ((s.fingerprint % 10000) + 10000) % 10000 AS u,
        |    (CAST(substr(d.source, 4) AS BIGINT) % 4 + 1) * 2000 AS cut
        |  FROM sgn s JOIN documents d ON s.doc_id = d.doc_id)
        |SELECT doc_id, source, CAST(u AS BIGINT) AS u, CAST(cut AS BIGINT) AS cut
        |FROM m WHERE u < cut ORDER BY doc_id""".stripMargin,
    // d30: the shard manifest re-derived from raw text — shard =
    // pmod(fingerprint, 8) over the shared fingerprint chain, token
    // counts from the same tokenizer, checksum = sum of
    // pmod(fingerprint, 10^12). Every cell is independent evidence:
    // the Spark side aggregated parquet files READ BACK from disk, so
    // a hash match certifies the persisted shards end to end.
    "d30_shard_manifest" ->
      s"""WITH $fingerprintCtesSql,
        |assigned AS (
        |  SELECT s.doc_id,
        |    ((s.fingerprint % 8) + 8) % 8 AS shard,
        |    ((s.fingerprint % 1000000000000) + 1000000000000) % 1000000000000 AS fpm,
        |    len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\\s+'), x -> x <> '')) AS ntok
        |  FROM sgn s JOIN documents d ON s.doc_id = d.doc_id)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_id,
        |  max(doc_id) AS max_id,
        |  CAST(sum(fpm) AS BIGINT) AS checksum
        |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin,
    // d34: the d30 manifest recomputed over corpus ∪ increment —
    // a hash match proves the APPEND path equals a full rebuild
    // (assignment and every aggregated cell depend on content alone,
    // never on which write landed a row).
    "d34_shard_append" ->
      s"""WITH docs_ext AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 400000 AS doc_id, text || ' graftshard' AS text
        |  FROM documents WHERE doc_id >= 40 AND doc_id < 80 AND text IS NOT NULL),
        |${fingerprintCtes("docs_ext")},
        |assigned AS (
        |  SELECT s.doc_id,
        |    ((s.fingerprint % 8) + 8) % 8 AS shard,
        |    ((s.fingerprint % 1000000000000) + 1000000000000) % 1000000000000 AS fpm,
        |    len(list_filter(regexp_split_to_array(lower(trim(d.text)), '\\s+'), x -> x <> '')) AS ntok
        |  FROM sgn s JOIN docs_ext d ON s.doc_id = d.doc_id)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS min_id,
        |  max(doc_id) AS max_id,
        |  CAST(sum(fpm) AS BIGINT) AS checksum
        |FROM assigned GROUP BY shard ORDER BY shard""".stripMargin,
    // r01: full BM25 recompute — same tokenizer, df/tf over query
    // terms only, corpus stats, and the scoring formula with every
    // constant CAST to DOUBLE (bare 1.2/0.75 literals are DECIMALs in
    // DuckDB and would run the formula in decimal arithmetic, not the
    // IEEE double chain Spark executes). Association mirrors
    // Retrieval.bm25TopK exactly; per-term contributions quantize to
    // integer micro-units BEFORE the sum so the aggregate is
    // order-independent in both engines.
    "g01_pagerank" -> pageRankOracleSql,
    // g02: triangle recount by the canonical id-orientation (pairs
    // are stored u < v, so each triangle a < b < c closes exactly one
    // wedge) — deliberately NOT the Spark side's degree-ordered
    // algorithm, so the hash match certifies count correctness
    // independently of orientation choice.
    "g02_triangle_counts" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.u = e2.u AND e1.v < e2.v
        |  JOIN pairs e3 ON e3.u = e1.v AND e3.v = e2.v)
        |SELECT node AS part_id, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY node ORDER BY part_id""".stripMargin,
    // g03: the 4 LPA rounds unrolled — each round is the same
    // (neighbor-label count → per-node argmax by count desc, label
    // asc) pair of CTEs the Spark loop folds as max(struct(c,-label)).
    "g03_label_propagation" -> {
      def round(prev: String, n: Int): String =
        s"""n$n AS (
          |  SELECT d.dst AS node, l.label, count(*) AS c
          |  FROM dirx d JOIN $prev l ON l.node = d.src
          |  GROUP BY d.dst, l.label),
          |l$n AS (
          |  SELECT node, label FROM (
          |    SELECT node, label,
          |      row_number() OVER (PARTITION BY node
          |        ORDER BY c DESC, label ASC) AS rn
          |    FROM n$n) WHERE rn = 1)""".stripMargin
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |dirx AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |         UNION ALL SELECT v, u FROM pairs),
        |l0 AS (SELECT DISTINCT src AS node, src AS label FROM dirx),
        |${round("l0", 1)},
        |${round("l1", 2)},
        |${round("l2", 3)},
        |${round("l3", 4)}
        |SELECT node AS part_id, label AS community
        |FROM l4 ORDER BY part_id""".stripMargin
    },
    // g04: the BFS levels unrolled — each level joins the previous
    // frontier to the directed edges, takes min seed per reached
    // node, and drops already-settled nodes; levels MATERIALIZED
    // (each is read twice: expansion + NOT IN).
    "g04_bfs_distances" -> {
      def level(n: Int): String = {
        val prevUnion = (0 until n).map(i => s"SELECT node FROM d$i").mkString(" UNION ALL ")
        s"""r$n AS (
          |  SELECT d.dst AS node, min(p.nearest_seed) AS nearest_seed
          |  FROM dirx d JOIN d${n - 1} p ON p.node = d.src
          |  GROUP BY d.dst),
          |d$n AS MATERIALIZED (
          |  SELECT node, CAST($n AS BIGINT) AS dist, nearest_seed
          |  FROM r$n WHERE node NOT IN ($prevUnion))""".stripMargin
      }
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |dirx AS MATERIALIZED (SELECT u AS src, v AS dst FROM pairs
        |         UNION ALL SELECT v, u FROM pairs),
        |d0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist,
        |    src AS nearest_seed
        |  FROM dirx WHERE src <= 20),
        |${level(1)},
        |${level(2)},
        |${level(3)}
        |SELECT node AS part_id, dist, nearest_seed
        |FROM (SELECT * FROM d0 UNION ALL SELECT * FROM d1
        |      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM d3)
        |ORDER BY part_id""".stripMargin
    },
    // g06: the weighted walk unrolled — contribution (r·w) // W(src),
    // same integer base formula as g01; weights = distinct shared
    // orders per pair (the DISTINCT-per-order pair count).
    "g06_weighted_pagerank" -> {
      def iter(k: Int): String =
        s"""it$k AS (
           |  SELECT e.dst AS node, sum((p.r * e.w) // s.wsum) AS s
           |  FROM pr${k - 1} p
           |  JOIN edges e ON p.node = e.src
           |  JOIN ws s ON p.node = s.src
           |  GROUP BY e.dst),
           |pr$k AS (
           |  SELECT nd.node,
           |    CAST((150000000000 // nn.n) + ((85 * coalesce(i.s, 0)) // 100) AS BIGINT) AS r
           |  FROM nodes nd LEFT JOIN it$k i ON nd.node = i.node CROSS JOIN nn)"""
          .stripMargin
      s"""WITH po AS (
         |  SELECT DISTINCT l1.l_orderkey AS ok, l1.l_partkey AS u, l2.l_partkey AS v
         |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
         |  WHERE l1.l_partkey < l2.l_partkey),
         |pairs AS MATERIALIZED (SELECT u, v, count(*) AS w FROM po GROUP BY u, v),
         |edges AS MATERIALIZED (
         |  SELECT u AS src, v AS dst, w FROM pairs
         |  UNION ALL SELECT v AS src, u AS dst, w FROM pairs),
         |ws AS (SELECT src, sum(w) AS wsum FROM edges GROUP BY src),
         |nodes AS (SELECT DISTINCT src AS node FROM edges),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |pr0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r
         |        FROM nodes CROSS JOIN nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node AS part_id, r AS rank_units FROM pr3
         |ORDER BY part_id""".stripMargin
    },
    // g05: the 3 peel rounds unrolled. k replicates the Spark side's
    // histogram form exactly: smallest degree whose cumulative node
    // count reaches ceil(n/10) (cum·10 ≥ n — integer ceil, no float
    // quantile anywhere). Each round recomputes degrees over the
    // surviving edge set and keeps both-endpoint survivors.
    "g05_kcore" -> {
      def peel(prev: String, n: Int): String =
        s"""s$n AS (
          |  SELECT node FROM (
          |    SELECT node, count(*) AS deg
          |    FROM (SELECT u AS node FROM $prev UNION ALL SELECT v FROM $prev)
          |    GROUP BY node), kv
          |  WHERE deg >= k),
          |e$n AS MATERIALIZED (
          |  SELECT u, v FROM $prev
          |  WHERE u IN (SELECT node FROM s$n) AND v IN (SELECT node FROM s$n))""".stripMargin
      s"""WITH pairs AS MATERIALIZED (
        |  SELECT DISTINCT l1.l_partkey AS u, l2.l_partkey AS v
        |  FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
        |  WHERE l1.l_partkey < l2.l_partkey),
        |deg0 AS (
        |  SELECT node, count(*) AS deg
        |  FROM (SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs)
        |  GROUP BY node),
        |stats AS (SELECT count(*) AS n FROM deg0),
        |hist AS (SELECT deg, count(*) AS c FROM deg0 GROUP BY deg),
        |kv AS (
        |  SELECT min(deg) AS k FROM (
        |    SELECT deg, sum(c) OVER (ORDER BY deg) AS cum FROM hist), stats
        |  WHERE cum * 10 >= n),
        |${peel("pairs", 1)},
        |${peel("e1", 2)},
        |${peel("e2", 3)}
        |SELECT node AS part_id, CAST(count(*) AS BIGINT) AS core_deg
        |FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
        |GROUP BY node ORDER BY part_id""".stripMargin
    },
    "r01_bm25_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tokenized AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
        |doclen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokenized),
        |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
        |queries AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id, unnest(toks[1:4]) AS term
        |    FROM tokenized WHERE doc_id < 5)),
        |qterms AS (SELECT DISTINCT term FROM queries),
        |tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM tokenized) u
        |  WHERE t IN (SELECT term FROM qterms)
        |  GROUP BY doc_id, t),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT q.query_id, f.doc_id,
        |    CAST(floor(
        |      ln(1 + (CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
        |      * ((CAST(f.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1))
        |         / (CAST(f.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |            * ((1 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * (CAST(l.dl AS DOUBLE) / s.avgdl))))
        |      * 1000000 + 0.5) AS BIGINT) AS c
        |  FROM tf f
        |  JOIN dfreq d ON f.term = d.term
        |  JOIN doclen l ON f.doc_id = l.doc_id
        |  CROSS JOIN stats s
        |  JOIN queries q ON f.term = q.term),
        |scored AS (
        |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |  FROM contrib GROUP BY query_id, doc_id),
        |ranked AS (
        |  SELECT query_id, doc_id, score_micro,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT query_id, doc_id, score_micro, rank FROM ranked
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // r03: BOTH retrieval chains recomputed from first principles —
    // r01's BM25 pipeline and v01's cosine pipeline, each to depth
    // 20 over query ids < 5 — then fused with the same integer RRF
    // arithmetic (1e6 // (60 + rank), summed, ties by item id). A
    // one-rank slip in either modality reorders the fused page and
    // breaks the hash.
    "r03_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tokenized AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
        |doclen AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokenized),
        |stats AS (SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM doclen),
        |queries AS (
        |  SELECT DISTINCT query_id, term FROM (
        |    SELECT doc_id AS query_id, unnest(toks[1:4]) AS term
        |    FROM tokenized WHERE doc_id < 5)),
        |qterms AS (SELECT DISTINCT term FROM queries),
        |tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM tokenized) u
        |  WHERE t IN (SELECT term FROM qterms)
        |  GROUP BY doc_id, t),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |contrib AS (
        |  SELECT q.query_id, f.doc_id,
        |    CAST(floor(
        |      ln(1 + (CAST(s.n - d.df AS DOUBLE) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
        |      * ((CAST(f.tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1))
        |         / (CAST(f.tf AS DOUBLE) + CAST(1.2 AS DOUBLE)
        |            * ((1 - CAST(0.75 AS DOUBLE)) + CAST(0.75 AS DOUBLE) * (CAST(l.dl AS DOUBLE) / s.avgdl))))
        |      * 1000000 + 0.5) AS BIGINT) AS c
        |  FROM tf f
        |  JOIN dfreq d ON f.term = d.term
        |  JOIN doclen l ON f.doc_id = l.doc_id
        |  CROSS JOIN stats s
        |  JOIN queries q ON f.term = q.term),
        |lexscored AS (
        |  SELECT query_id, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |  FROM contrib GROUP BY query_id, doc_id),
        |lexranked AS (
        |  SELECT query_id, doc_id AS item_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY score_micro DESC, doc_id) AS BIGINT) AS r
        |  FROM lexscored),
        |e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |vecscored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id),
        |vecranked AS (
        |  SELECT query_id, nbr_id AS item_id,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, nbr_id ASC) AS BIGINT) AS r
        |  FROM vecscored),
        |pooled AS (
        |  SELECT query_id, item_id,
        |    CAST(sum(1000000 // (60 + r)) AS BIGINT) AS rrf_units
        |  FROM (SELECT * FROM lexranked WHERE r <= 20
        |        UNION ALL SELECT * FROM vecranked WHERE r <= 20)
        |  GROUP BY query_id, item_id),
        |fused AS (
        |  SELECT query_id, item_id, rrf_units,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY rrf_units DESC, item_id) AS BIGINT) AS rank
        |  FROM pooled)
        |SELECT query_id, item_id, rrf_units, rank FROM fused
        |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // d31: the temperature cuts re-derived — per-lang counts, √count
    // quantized to micro-units before the normalizing sum (the only
    // order-sensitive step made integer), then the same
    // exactly-rounded double chain; keep bits from the shared
    // fingerprint CTE. DOUBLE casts for the same DECIMAL-literal
    // reason as r01.
    "d31_temperature_mix" ->
      s"""WITH $fingerprintCtesSql,
        |base AS (
        |  SELECT s.doc_id, d.lang,
        |    ((s.fingerprint % 10000) + 10000) % 10000 AS u
        |  FROM sgn s JOIN documents d ON s.doc_id = d.doc_id),
        |counts AS (
        |  SELECT lang, count(*) AS c,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS sqc
        |  FROM base GROUP BY lang),
        |tot AS (
        |  SELECT CAST(sum(sqc) AS BIGINT) AS s_total,
        |    CAST(sum(c) AS BIGINT) AS n_total FROM counts),
        |cuts AS (
        |  SELECT lang,
        |    least(CAST(10000 AS BIGINT), CAST(floor(
        |      (CAST(sqc AS DOUBLE) / CAST(t.s_total AS DOUBLE)
        |        * (CAST(t.n_total AS DOUBLE) / 2.0)
        |        / CAST(c AS DOUBLE)) * 10000 + 0.5) AS BIGINT)) AS cut
        |  FROM counts CROSS JOIN tot t)
        |SELECT b.doc_id, b.lang, CAST(b.u AS BIGINT) AS u, k.cut
        |FROM base b JOIN cuts k ON b.lang = k.lang
        |WHERE b.u < k.cut ORDER BY b.doc_id""".stripMargin,
    // d32: the BPE pair count re-derived — same tokenizer, word
    // frequencies, per-codepoint split via the shared '(?s).'
    // extraction, adjacent-pair concat, frequency-weighted sum,
    // (n DESC, pair ASC) rank. range(1, len) excludes the end, so i
    // runs 1..len-1 over DuckDB's 1-based list indexes, matching
    // Spark's element_at(cs, i)/element_at(cs, i+1).
    "d32_bpe_pairs" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |wf AS (
        |  SELECT w, count(*) AS freq
        |  FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w),
        |cs AS (
        |  SELECT freq, regexp_extract_all(w, '(?s).') AS cs FROM wf
        |  WHERE len(regexp_extract_all(w, '(?s).')) >= 2),
        |pairs AS (
        |  SELECT freq, cs[i] || cs[i + 1] AS pair
        |  FROM (SELECT freq, cs, unnest(range(1, len(cs))) AS i FROM cs)),
        |pc AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM pairs GROUP BY pair),
        |ranked AS (
        |  SELECT pair, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) AS rank
        |  FROM pc)
        |SELECT pair, n, rank FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin,
    "d38_bpe_vocab" -> bpeVocabOracleSql,
    "d39_bpe_symbols" -> bpeSymbolsOracleSql,
    "d40_bpe_encode" -> bpeEncodeOracleSql,
    // d41: full first-principles re-derivation — the seeded ±1 sign
    // matrix (mixSqlU bit 0), integer projection coordinates, sign
    // cell bits, md5-prefix draw, per-cell rank ≤ k. No model state
    // crosses engines; a single flipped sign bit breaks the hash.
    "d41_semantic_sample" ->
      s"""WITH sgn AS (
        |  SELECT i, j,
        |    CASE WHEN ${mixSqlU("xor(CAST(i*6 + j AS UBIGINT), CAST(25214903917 AS UBIGINT))")} % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM range(64) t1(i) CROSS JOIN range(6) t2(j)),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |px AS (
        |  SELECT vec_id, i, qv[i + 1] AS qx
        |  FROM q CROSS JOIN range(64) t(i)),
        |y AS (
        |  SELECT px.vec_id, s.j, CAST(sum(px.qx * s.s) AS BIGINT) AS y_units
        |  FROM px JOIN sgn s ON s.i = px.i GROUP BY 1, 2),
        |cells AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN y_units > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS cell
        |  FROM y GROUP BY vec_id),
        |ranked AS (
        |  SELECT vec_id, cell,
        |    CAST(row_number() OVER (PARTITION BY cell
        |      ORDER BY ${hex48Sql("CAST(vec_id AS VARCHAR)")}, vec_id) AS BIGINT) AS cell_rank
        |  FROM cells)
        |SELECT vec_id, cell, cell_rank FROM ranked WHERE cell_rank <= 4
        |ORDER BY cell, cell_rank""".stripMargin,
    // r02: TF-IDF re-derived — same tokenizer, (doc, term) tf, df,
    // smoothed idf ln((N+1)/(df+1)) + 1, single-product micro-unit
    // scores (no float sum to order), (score DESC, term ASC) rank
    // within each doc. DOUBLE casts as in r01.
    "r02_tfidf_keywords" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |tokenized AS (SELECT doc_id, toks FROM tok WHERE len(toks) > 0),
        |stats AS (SELECT count(*) AS n FROM tokenized),
        |tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM tokenized)
        |  GROUP BY doc_id, t),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |scored AS (
        |  SELECT f.doc_id, f.term,
        |    CAST(floor(
        |      CAST(f.tf AS DOUBLE)
        |      * (ln((CAST(s.n AS DOUBLE) + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)) + 1.0)
        |      * 1000000 + 0.5) AS BIGINT) AS score_micro
        |  FROM tf f JOIN dfreq d ON f.term = d.term CROSS JOIN stats s),
        |ranked AS (
        |  SELECT doc_id, term, score_micro,
        |    CAST(row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score_micro DESC, term) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, term, score_micro, rank FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    // d33: the bigram LM retrained in SQL — reference slice unigram/
    // bigram counts, vocab size, add-one-smoothed -ln P per bigram
    // occurrence quantized to micro-nats BEFORE the per-doc sum,
    // integer mean, integer threshold compare. range(1, len) mirrors
    // Spark's sequence(1, size-1) over 1-based list indexes.
    "d33_perplexity_filter" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |ref AS (SELECT doc_id, toks FROM tok WHERE doc_id < 100),
        |uni AS (SELECT w1, count(*) AS c1
        |  FROM (SELECT unnest(toks) AS w1 FROM ref) GROUP BY w1),
        |voc AS (SELECT count(*) AS v FROM uni),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM (
        |  SELECT toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT toks, unnest(range(1, len(toks))) AS i FROM ref
        |        WHERE len(toks) >= 2)) GROUP BY w1, w2),
        |docbg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok
        |        WHERE len(toks) >= 2)),
        |sc AS (SELECT d.doc_id,
        |  CAST(floor(ln(CAST(coalesce(u.c1, 0) + v.v AS DOUBLE)
        |    / CAST(coalesce(b.c12, 0) + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS c
        |  FROM docbg d
        |  LEFT JOIN big b ON d.w1 = b.w1 AND d.w2 = b.w2
        |  LEFT JOIN uni u ON d.w1 = u.w1 CROSS JOIN voc v),
        |agg AS (SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(c) AS BIGINT) AS nll FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  CAST(nll // n_bigrams AS BIGINT) AS avg_nll_micro,
        |  (nll // n_bigrams) < 3470000 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    // d17: non-overlapping 32-token windows; DuckDB list slices are
    // 1-based inclusive, matching Spark's slice(start, length).
    // d42: the DSIR importance model re-derived from first principles —
    // per-token portable hashes (the d06/d07 oracle spelling) folded to
    // 4096 buckets by low bits, document frequencies co-counted for the
    // 'en' target slice and the whole corpus in one grouped pass, each
    // log-prob micro-nat-quantized BEFORE the difference (identical
    // IEEE doubles feed ln on both engines), per-doc score = integer
    // sum over distinct buckets.
    "d42_dsir_importance" ->
      s"""WITH $fingerprintCtesSql,
        |pb AS (SELECT DISTINCT doc_id, CAST(h & 4095 AS BIGINT) AS b FROM th),
        |pl AS (SELECT p.doc_id, p.b, d.lang FROM pb p JOIN documents d USING (doc_id)),
        |nd AS (SELECT count(*) AS nr, count(*) FILTER (WHERE lang = 'en') AS nt
        |       FROM (SELECT DISTINCT doc_id, lang FROM pl)),
        |df AS (SELECT b, count(*) AS dfr,
        |         count(*) FILTER (WHERE lang = 'en') AS dft
        |       FROM pl GROUP BY b),
        |lr AS (SELECT b,
        |    CAST(floor(ln(CAST(dft + 1 AS DOUBLE) / CAST(nt + 2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
        |  - CAST(floor(ln(CAST(dfr + 1 AS DOUBLE) / CAST(nr + 2 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS units
        |  FROM df CROSS JOIN nd),
        |sc AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_features,
        |         CAST(sum(l.units) AS BIGINT) AS score_units
        |       FROM pb p JOIN lr l USING (b) GROUP BY p.doc_id)
        |SELECT doc_id, n_features, score_units, score_units > 0 AS keep
        |FROM sc ORDER BY doc_id""".stripMargin,
    "d17_token_chunks" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |f AS (SELECT doc_id, toks, len(toks) AS n FROM tok WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n, unnest(range(0, ((n - 1) // 32) + 1)) AS chunk_idx FROM f)
        |SELECT doc_id, chunk_idx,
        |  array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ') AS chunk_text,
        |  least(n - chunk_idx * 32, 32) AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // d18: corpus docs sharing any distinct 5-word shingle with the
    // benchmark set (doc_id < 10); counts distinct shared shingles.
    "d18_decontamination" ->
      """WITH tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 5
        |         THEN list_distinct(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |bench AS (SELECT DISTINCT g FROM post WHERE doc_id < 10)
        |SELECT p.doc_id, count(*) AS n_shared
        |FROM post p JOIN bench b ON p.g = b.g
        |WHERE p.doc_id >= 10
        |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin,
    // d44: every rule re-derived in SQL with the same integer count
    // comparisons — the bitmask is a sum of powers of two, so one
    // flipped rule anywhere breaks the hash.
    "d44_gopher_rules" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks,
        |    regexp_split_to_array(text, '\n') AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS sum_len,
        |    CAST(length(text) - length(replace(text, '#', '')) AS BIGINT)
        |      + CAST((length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols,
        |    CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(toks, x -> list_contains(['the','be','to','of','and','that','have','with','a','in'], x))) AS BIGINT) AS n_stop,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> trim(l) LIKE '-%' OR trim(l) LIKE '*%')) AS BIGINT) AS n_bullet,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT) AS n_ell
        |  FROM t)
        |SELECT doc_id, n_words,
        |  CAST((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
        |    + (CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 0 ELSE 2 END)
        |    + (CASE WHEN 10 * n_symbols <= n_words THEN 0 ELSE 4 END)
        |    + (CASE WHEN 10 * n_bullet <= n_lines THEN 0 ELSE 8 END)
        |    + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 0 ELSE 16 END)
        |    + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 32 END)
        |    + (CASE WHEN n_stop >= 2 THEN 0 ELSE 64 END) AS BIGINT) AS fail_mask,
        |  ((CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
        |    + (CASE WHEN 3 * n_words <= sum_len AND sum_len <= 10 * n_words THEN 0 ELSE 2 END)
        |    + (CASE WHEN 10 * n_symbols <= n_words THEN 0 ELSE 4 END)
        |    + (CASE WHEN 10 * n_bullet <= n_lines THEN 0 ELSE 8 END)
        |    + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 0 ELSE 16 END)
        |    + (CASE WHEN 5 * n_alpha >= 4 * n_words THEN 0 ELSE 32 END)
        |    + (CASE WHEN n_stop >= 2 THEN 0 ELSE 64 END)) = 0 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // d45: the page construction AND every C4 rule re-derived in SQL
    // — 8-word lines, the punct cycle, the javascript/lorem/brace
    // stripes — so the hash certifies rule firing, not plumbing.
    "d45_c4_rules" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL AND length(text) > 0),
        |ln AS (
        |  SELECT doc_id,
        |    list_transform(range(0, (len(toks) + 7) // 8), g -> concat(
        |      CASE WHEN (doc_id * 7 + g) % 11 = 0 THEN 'javascript ' ELSE '' END,
        |      array_to_string(toks[g*8+1 : g*8+8], ' '),
        |      CASE WHEN (g + doc_id) % 4 = 0 THEN ''
        |           WHEN (g + doc_id) % 4 = 3 THEN '!' ELSE '.' END)) AS lines
        |  FROM t),
        |al AS (
        |  SELECT doc_id,
        |    list_concat(list_concat(lines,
        |      CASE WHEN doc_id % 23 = 0 THEN ['curabitur lorem ipsum dolor.'] ELSE [] END),
        |      CASE WHEN doc_id % 29 = 0 THEN ['function() { return 0; }'] ELSE [] END) AS all_lines
        |  FROM ln),
        |k AS (
        |  SELECT doc_id, all_lines,
        |    list_filter(all_lines, l ->
        |      (l LIKE '%.' OR l LIKE '%!' OR l LIKE '%?' OR l LIKE '%"')
        |      AND len(list_filter(string_split(l, ' '), x -> x <> '')) >= 5
        |      AND NOT l LIKE '%javascript%') AS kept
        |  FROM al),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(all_lines) AS BIGINT) AS n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept,
        |    CAST(coalesce(list_sum(list_transform(kept,
        |      l -> length(l) - length(translate(l, '.!?', '')))), 0) AS BIGINT) AS n_sentences,
        |    len(list_filter(all_lines, l -> l LIKE '%lorem ipsum%')) > 0 AS has_lorem,
        |    len(list_filter(all_lines, l -> l LIKE '%{%')) > 0 AS has_brace
        |  FROM k)
        |SELECT doc_id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
        |  n_kept >= 1 AND n_sentences >= 3 AND NOT has_lorem AND NOT has_brace AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // d43: the fraction rule re-derived with the contamination
    // re-planted in SQL (benchmark docs + ' graftmark', ids +200000);
    // integer basis points, // == div above zero.
    "d43_decontamination_fraction" ->
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        |all_docs AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL
        |  SELECT doc_id + 200000, text || ' graftmark' FROM base WHERE doc_id < 5),
        |tok AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '') AS toks
        |  FROM all_docs),
        |sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 5
        |         THEN list_distinct(list_transform(range(1, len(toks) - 3), i -> array_to_string(toks[i:i+4], ' ')))
        |         ELSE [array_to_string(toks, ' ')] END AS shingles
        |  FROM tok),
        |post AS (SELECT doc_id, unnest(shingles) AS g FROM sh),
        |bench AS (SELECT DISTINCT g FROM post WHERE doc_id < 10),
        |tot AS (SELECT doc_id, count(*) AS n_shingles FROM post WHERE doc_id >= 10 GROUP BY doc_id),
        |shr AS (SELECT p.doc_id, count(*) AS n_shared FROM post p JOIN bench b ON p.g = b.g
        |        WHERE p.doc_id >= 10 GROUP BY p.doc_id)
        |SELECT t.doc_id, CAST(t.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(coalesce(s.n_shared, 0) AS BIGINT) AS n_shared,
        |  CAST((coalesce(s.n_shared, 0) * 10000) // t.n_shingles AS BIGINT) AS overlap_bp,
        |  (coalesce(s.n_shared, 0) * 10000) // t.n_shingles >= 5000 AS contaminated
        |FROM tot t LEFT JOIN shr s USING (doc_id) ORDER BY doc_id""".stripMargin,
    "m02_frame_samples" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS media_type,
        |    octet_length(encode(text)) +
        |      CASE WHEN doc_id % 4 = 0 THEN 33
        |           WHEN doc_id % 2 = 0 THEN 39 ELSE 44 END AS blen
        |  FROM documents),
        |f AS (
        |  SELECT asset_id, media_type, unnest(range(0, 4)) AS frame_idx,
        |    blen, greatest(blen - 32, 1) AS span
        |  FROM a)
        |SELECT asset_id, media_type, frame_idx,
        |  greatest(least(32, blen - CAST(trunc(frame_idx * span / 4.0 + 1) AS BIGINT) + 1), 0) AS frame_size
        |FROM f ORDER BY asset_id, frame_idx""".stripMargin,
    // Cocoa pipeline oracles: re-derive the warehouse in SQL from the
    // landing-file copies Verify dumps to a fixed path (see
    // cocoaOracleIn). Merge = row_number LWW on (processed_at,
    // timestamp) desc, exactly Merge.upsertShipments; value =
    // weight × 2.5 is exact in doubles (halves), so no rounding is
    // involved anywhere.
    "p01_cocoa_warehouse" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // p14: the WAP-published v0 must be byte-identical to the clean
    // warehouse derivation — same oracle as p01; any leak of the
    // rejected poisoned stage into v0 breaks the hash.
    "p14_wap" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // p06: the JDBC (Derby) landing of the same batches must preserve
    // the exact warehouse — same oracle as p01.
    "p06_jdbc_warehouse" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // The streaming drain must land the IDENTICAL warehouse — the
    // exactly-once/file-log claim, hash-checked. Same landing-file
    // dump, same oracle. (runCocoa's dump is reused: both pipelines
    // consume byte-identical generated batches.)
    "s04_cocoa_stream_warehouse" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "s15_stream_crash_recovery" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "s19_stream_sink" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // s20: the re-assembled append-only stream equals the warehouse.
    "s20_stream_snapshot_tail" ->
      cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // s21: the manifest-append tail re-assembles the same warehouse
    // (the O(Δ) path claim lives in the gate's requires).
    "s21_stream_manifest_tail" ->
      cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // s16: both cells deterministic — two increment files make two
    // micro-batches; the equality certificate is computed
    // distributively against the one-shot encode (v02 pattern).
    "s16_stream_index_maintenance" ->
      "SELECT CAST(2 AS BIGINT) AS n_batches, TRUE AS stream_equiv_ok",
    // s07: the streaming JDBC landing must preserve the same warehouse
    // — stream -> RDBMS, exactly-once by upsert idempotence.
    "s07_stream_jdbc_warehouse" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "p21_branch_merge" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq(
        "b1" -> "2023-11-14 22:13:20", "b2" -> "2023-11-14 22:15:00",
        "m1" -> "2023-11-14 22:16:40", "m2" -> "2023-11-14 22:18:20")),
    // p23: the six-batch LWW — base warehouse (b1, b2) plus two
    // disjoint fork-diverge-merge rounds (r1..r4); the re-merge with
    // an advanced base must land exactly this
    "p23_branch_remerge" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq(
        "b1" -> "2023-11-14 22:13:20", "b2" -> "2023-11-14 22:15:00",
        "r1" -> "2023-11-14 22:16:40", "r2" -> "2023-11-14 22:18:20",
        "r3" -> "2023-11-14 22:20:00", "r4" -> "2023-11-14 22:21:40")),
    "p20_snapshot_group" -> cocoaOracle(
      """SELECT region, count(*) AS n_shipments,
        |  sum(shipment_value_usd) AS total_value_usd
        |FROM wh GROUP BY region ORDER BY region""".stripMargin),
    "p02_cocoa_value_by_region" -> cocoaOracle(
      """SELECT region, sum(shipment_value_usd) AS total_value_usd
        |FROM wh GROUP BY region ORDER BY region""".stripMargin),
    "p03_cocoa_quality_trends" -> cocoaOracle(
      """SELECT date_trunc('week', "timestamp") AS week, region,
        |  count(*) AS n_shipments,
        |  sum(floor(quality_score * 100 + 0.5)) / 100.0 AS sum_quality
        |FROM wh GROUP BY 1, 2 ORDER BY week, region""".stripMargin),
    "p04_cocoa_region_distribution" -> cocoaOracle(
      """SELECT region, count(*) AS n_shipments
        |FROM wh GROUP BY region ORDER BY region""".stripMargin),
    // p05: snapshot v0 must equal the warehouse derived from batch 1
    // ALONE — time travel reads are immutable history.
    "p05_time_travel" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    // p13: restore-to-v0 must reproduce the batch-1 warehouse exactly.
    "p13_restore" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    // p15: reading through the clone pointer must reproduce the full
    // warehouse byte-for-byte — p01's oracle verbatim.
    "p15_shallow_clone" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "p18_clustered_compaction" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    "io10_partition_evolution" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // io11: the DSv2 connector read (filter + projection) must equal
    // the LWW warehouse filtered the same way.
    "io11_dsv2_read" -> cocoaOracle(
      """SELECT shipment_id, region, quality_score, shipment_value_usd
        |FROM wh WHERE region = 'Ashanti' ORDER BY shipment_id""".stripMargin),
    // io12/io13: versionAsOf / SQL VERSION AS OF 0 == the batch-1
    // warehouse (p05's immutable-history contract, two more doors).
    "io12_dsv2_time_travel" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    "io13_sql_time_travel" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id",
      batches = Seq("b1" -> "2023-11-14 22:13:20")),
    // io14: the zone-map-pruned connector scan must equal the plain
    // LWW filter — skipping is layout metadata, never semantics.
    "io14_dsv2_zonemap" -> cocoaOracle(
      "SELECT * FROM wh WHERE quality_score >= 9.5 ORDER BY shipment_id"),
    // io15: the runtime-pruned partitioned join == a plain region
    // range filter over the LWW warehouse.
    "io15_dsv2_runtime_prune" -> cocoaOracle(
      "SELECT * FROM wh WHERE region < 'F' ORDER BY shipment_id"),
    // io16: footer-stat aggregates must equal the recomputed truth.
    "io16_dsv2_agg_pushdown" -> cocoaOracle(
      """SELECT count(*) AS n_rows,
        |  min(quality_score) AS min_quality, max(quality_score) AS max_quality,
        |  min(shipment_weight_kg) AS min_weight,
        |  max(shipment_weight_kg) AS max_weight
        |FROM wh""".stripMargin),
    // p24: CREATE TABLE + INSERT INTO (connector upsert) over
    // byte-identical regenerated batches == p01's warehouse.
    "p24_sql_insert_upsert" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // p25: SQL DELETE keeps rows where the predicate is FALSE or NULL.
    "p25_sql_delete" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(temperature_celsius > 23.0 AND quality_score < 8.2, FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p26: SQL UPDATE rewrites rows where the predicate is TRUE;
    // FALSE and NULL rows are untouched.
    "p26_sql_update" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id,
        |  CASE WHEN coalesce(temperature_celsius > 23.0, FALSE)
        |       THEN 'REGRADED' ELSE region END AS region,
        |  bean_type,
        |  CASE WHEN coalesce(temperature_celsius > 23.0, FALSE)
        |       THEN quality_score + 0.5 ELSE quality_score END AS quality_score,
        |  shipment_weight_kg, temperature_celsius, shipment_value_usd,
        |  processed_at
        |FROM wh ORDER BY shipment_id""".stripMargin),
    // p27: MERGE over a source covering every key (region->PREMIUM)
    // plus suffixed new keys: matched quality<8 deleted, other matched
    // rows take the source region, new keys inserted as-is.
    "p27_sql_merge" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id, 'PREMIUM' AS region,
        |  bean_type, quality_score, shipment_weight_kg,
        |  temperature_celsius, shipment_value_usd, processed_at
        |FROM wh WHERE NOT coalesce(quality_score < 8.0, FALSE)
        |UNION ALL
        |SELECT shipment_id || '-X' AS shipment_id, "timestamp", farm_id,
        |  region, bean_type, quality_score, shipment_weight_kg,
        |  temperature_celsius, shipment_value_usd, processed_at
        |FROM wh
        |ORDER BY shipment_id""".stripMargin),
    // p28: metadata-only widening + graded upsert — old rows NULL,
    // premium rows grade 'A'.
    "p28_sql_alter_evolve" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id, region, bean_type,
        |  quality_score, shipment_weight_kg, temperature_celsius,
        |  shipment_value_usd, processed_at,
        |  CASE WHEN quality_score >= 9.0 THEN 'A' ELSE NULL END AS grade
        |FROM wh ORDER BY shipment_id""".stripMargin),
    // p19: the as-of point sits between the batch stamps, so the
    // as-of state IS enriched batch 1 — re-aggregated directly.
    "p19_scd2_asof" -> {
      s"""WITH s1 AS (${cocoaBatchSql("s1", "2023-11-14 22:13:20")}),
         |e1 AS (
         |  SELECT shipment_id, region, shipment_weight_kg * 2.5 AS v
         |  FROM (SELECT *, row_number() OVER (PARTITION BY shipment_id
         |          ORDER BY processed_at DESC, "timestamp" DESC) AS rn
         |        FROM s1) WHERE rn = 1)
         |SELECT region, count(*) AS n_shipments,
         |  sum(v) AS total_value_usd
         |FROM e1 GROUP BY region ORDER BY region""".stripMargin
    },
    // p17: every SCD2 validity interval re-derived from the landing
    // CSVs — per-batch LWW enrichment, null-safe business compare to
    // find the changed keys, then the three interval classes (closed,
    // carried-open, newly-opened) as explicit unions.
    "p17_scd2_history" -> {
      def enrich(name: String, src: String): String =
        s"""$name AS (
           |  SELECT shipment_id, "timestamp", farm_id, region, bean_type,
           |    quality_score, shipment_weight_kg, temperature_celsius,
           |    shipment_weight_kg * 2.5 AS shipment_value_usd, processed_at
           |  FROM (SELECT *, row_number() OVER (PARTITION BY shipment_id
           |          ORDER BY processed_at DESC, "timestamp" DESC) AS rn
           |        FROM $src) WHERE rn = 1)""".stripMargin
      val same = Seq("timestamp", "farm_id", "region", "bean_type",
          "quality_score", "shipment_weight_kg", "temperature_celsius",
          "shipment_value_usd")
        .map(c => s"""a."$c" IS NOT DISTINCT FROM b."$c"""")
        .mkString(" AND\n      ")
      val cols = """shipment_id, "timestamp", farm_id, region, bean_type,
                   |  quality_score, shipment_weight_kg, temperature_celsius,
                   |  shipment_value_usd, processed_at""".stripMargin
      s"""WITH s1 AS (${cocoaBatchSql("s1", "2023-11-14 22:13:20")}),
         |s2 AS (${cocoaBatchSql("s2", "2023-11-14 22:15:00")}),
         |${enrich("e1", "s1")},
         |${enrich("e2", "s2")},
         |chg AS (
         |  SELECT a.shipment_id FROM e1 a JOIN e2 b USING (shipment_id)
         |  WHERE NOT ($same))
         |SELECT * FROM (
         |  SELECT $cols,
         |    CAST(1700000000000 AS BIGINT) AS valid_from_ms,
         |    CAST(1700000100000 AS BIGINT) AS valid_to_ms,
         |    FALSE AS is_current
         |  FROM e1 WHERE shipment_id IN (SELECT shipment_id FROM chg)
         |  UNION ALL
         |  SELECT $cols,
         |    CAST(1700000000000 AS BIGINT), CAST(NULL AS BIGINT), TRUE
         |  FROM e1 WHERE shipment_id NOT IN (SELECT shipment_id FROM chg)
         |  UNION ALL
         |  SELECT $cols,
         |    CAST(1700000100000 AS BIGINT), CAST(NULL AS BIGINT), TRUE
         |  FROM e2 WHERE shipment_id IN (SELECT shipment_id FROM chg)
         |     OR shipment_id NOT IN (SELECT shipment_id FROM e1))
         |ORDER BY shipment_id, valid_from_ms""".stripMargin
    },
    "p16_column_rename" -> cocoaOracle(
      """SELECT shipment_id, "timestamp" AS event_ts, farm_id, region,
        |  bean_type, quality_score, shipment_weight_kg,
        |  temperature_celsius, shipment_value_usd AS trade_value_usd,
        |  processed_at
        |FROM wh ORDER BY shipment_id""".stripMargin),
    // p07: re-derive BOTH versions (v0 = batch 1 alone, v1 = LWW over
    // both) and diff them column-null-safely — mirrors
    // Warehouse.diffFrames: inserts/updates carry the NEW row, deletes
    // (zero in this append-only pipeline, proven by absence) the old.
    "p07_version_diff" -> cocoaVersionDiffOracleSql,
    // p10: the STORED change feed must carry exactly the change set
    // p07 derives — same oracle, so persisted ≡ derived is the gate.
    "p10_change_feed" -> cocoaVersionDiffOracleSql,
    // p11: MERGE INTO re-derived — rebuild the same source batch,
    // classify every matched key by the standard's first-matching-
    // clause rule (delete before update; a null condition fires
    // nothing), then assemble survivors from the three populations.
    "p11_merge_into" -> cocoaOracle(
      """, src AS (
        |  SELECT shipment_id, "timestamp", farm_id, region, bean_type,
        |    quality_score + 1.0 AS quality_score, shipment_weight_kg,
        |    temperature_celsius, shipment_value_usd,
        |    processed_at + INTERVAL 1 HOUR AS processed_at
        |  FROM wh WHERE CAST(substring(shipment_id, 6) AS BIGINT) % 3 = 0
        |  UNION ALL
        |  SELECT shipment_id || '-R', "timestamp", farm_id, region, bean_type,
        |    quality_score, shipment_weight_kg, temperature_celsius,
        |    shipment_value_usd, processed_at
        |  FROM wh WHERE CAST(substring(shipment_id, 6) AS BIGINT) % 7 = 0),
        |cls AS (
        |  SELECT t.shipment_id,
        |    CASE WHEN s.shipment_id IS NULL THEN 'keep'
        |         WHEN coalesce(s.quality_score > 10.0, FALSE) THEN 'delete'
        |         WHEN coalesce(s.temperature_celsius < 22.0, FALSE) THEN 'update'
        |         ELSE 'keep' END AS action
        |  FROM wh t LEFT JOIN src s USING (shipment_id))
        |SELECT t.* FROM wh t JOIN cls c USING (shipment_id) WHERE c.action = 'keep'
        |UNION ALL
        |SELECT s.* FROM src s JOIN cls c USING (shipment_id) WHERE c.action = 'update'
        |UNION ALL
        |SELECT s.* FROM src s LEFT JOIN wh t ON s.shipment_id = t.shipment_id
        |WHERE t.shipment_id IS NULL AND s.bean_type <> 'Criollo'
        |ORDER BY shipment_id""".stripMargin),
    "p08_compaction" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // p12: the derived warehouse minus the two delete predicates —
    // NULL-predicate rows survive, as under SQL DELETE.
    "p12_deletion_vectors" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0 OR region = 'Volta', FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p29: identical truth through the connector's merge-on-read scan.
    "p29_dv_connector_read" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0 OR region = 'Volta', FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p32: the CTAS copy must equal the warehouse truth exactly.
    "p32_sql_ctas" -> cocoaOracle("SELECT * FROM wh ORDER BY shipment_id"),
    // p31: merge-on-read SQL DELETE — same live truth as p12.
    "p31_sql_delete_mor" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0 OR region = 'Volta', FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p41: the manifest twin of p31 — same cut, same survivors.
    "p41_manifest_dv_delete" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0 OR region = 'Volta', FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p30: post-rename, post-upsert truth — quality_score is GRADE
    // now, and every Criollo row was re-graded through the upsert.
    "p30_rename_sql_lifecycle" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id, region, bean_type,
        |  CAST(CASE WHEN bean_type = 'Criollo' THEN 9.99
        |       ELSE quality_score END AS DOUBLE) AS grade,
        |  shipment_weight_kg, temperature_celsius, shipment_value_usd,
        |  processed_at
        |FROM wh ORDER BY shipment_id""".stripMargin),
    // p33: the manifest-append table equals the whole warehouse (the
    // two halves partition it exactly); granularity is pinned by the
    // gate's own requires.
    "p33_manifest_append" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id"),
    // p34: file-granular delete — p12's three-valued truth.
    "p34_manifest_delete" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0, FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p38: partitioned manifest — append reunifies the halves, then
    // the Volta quality cut survives.
    "p38_partitioned_manifest" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(region = 'Volta' AND quality_score < 8.0, FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p40: optimize is layout-only — the content is the whole warehouse.
    "p40_manifest_optimize" -> cocoaOracle(
      "SELECT * FROM wh ORDER BY shipment_id"),
    // p39: manifest rename — survivors of the scoped Volta cut under
    // the renamed (logical) column.
    "p39_manifest_rename" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id, region AS zone,
        |  bean_type, quality_score, shipment_weight_kg,
        |  temperature_celsius, shipment_value_usd, processed_at
        |FROM wh
        |WHERE NOT coalesce(region = 'Volta' AND quality_score < 8.0, FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p37: SQL manifest lifecycle — the two halves re-union to the
    // whole warehouse, then the same quality cut survives.
    "p37_sql_manifest_lifecycle" -> cocoaOracle(
      """SELECT * FROM wh
        |WHERE NOT coalesce(quality_score < 8.0, FALSE)
        |ORDER BY shipment_id""".stripMargin),
    // p35: file-granular update — the CASE recomputed over the truth.
    "p35_manifest_update" -> cocoaOracle(
      """SELECT shipment_id, "timestamp", farm_id,
        |  CASE WHEN coalesce(quality_score < 8.0, FALSE)
        |       THEN 'Reprocessed' ELSE region END AS region,
        |  bean_type, quality_score, shipment_weight_kg,
        |  temperature_celsius, shipment_value_usd, processed_at
        |FROM wh ORDER BY shipment_id""".stripMargin),
    // p36: source-wins upsert recomputed with set algebra — matched
    // keys re-graded, every Volta row re-inserted under a new key.
    "p36_manifest_merge" -> cocoaOracle(
      """SELECT * FROM (
        |  SELECT * FROM wh
        |  WHERE NOT (bean_type = 'Criollo' AND shipment_id < 'SHIP-0000000100')
        |  UNION ALL
        |  SELECT shipment_id, "timestamp", farm_id, region, bean_type,
        |    CAST(9.99 AS DOUBLE) AS quality_score, shipment_weight_kg,
        |    temperature_celsius, shipment_value_usd, processed_at
        |  FROM wh
        |  WHERE bean_type = 'Criollo' AND shipment_id < 'SHIP-0000000100'
        |  UNION ALL
        |  SELECT shipment_id || '_new' AS shipment_id, "timestamp", farm_id,
        |    region, bean_type, quality_score, shipment_weight_kg,
        |    temperature_celsius, shipment_value_usd, processed_at
        |  FROM wh WHERE region = 'Volta')
        |ORDER BY shipment_id""".stripMargin),
    // p09: the oracle RECOMPUTES the aggregate from the final
    // warehouse; the Spark side never reads v1's rows outside the
    // change feed — a hash match certifies incremental maintenance
    // ≡ full recompute.
    "p09_incremental_agg" -> cocoaOracle(
      """SELECT region, sum(shipment_value_usd) AS total_value_usd,
        |  count(*) AS n_shipments
        |FROM wh GROUP BY region ORDER BY region""".stripMargin),
    // s05: the doubled-then-deduped stream must equal the original
    // event set exactly.
    "s05_streaming_dedup" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // s14: same truth as s05 — on verbatim echoes the within-watermark
    // dedup reconstructs exactly the original event set; the
    // re-stamped-redelivery distinction is spec-pinned, not oracled.
    "s14_dedup_within_watermark" ->
      """SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // s08: the streaming gate's surviving content-hash set — the
    // d29 increment populations re-derived, collapsed to distinct
    // hashes, minus anything already in the corpus. Id-free on
    // purpose: arrival order decides WHICH echo a stream sees first,
    // so the deterministic cross-engine contract is the hash set.
    "s08_stream_incremental_dedup" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id < 40 AND text IS NOT NULL),
        |inc AS (
        |  SELECT text FROM src
        |  UNION ALL SELECT text || ' graftmark' FROM src
        |  UNION ALL SELECT text || ' graftmark' FROM src)
        |SELECT DISTINCT md5(i.text) AS content_hash FROM inc i
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM documents c
        |  WHERE c.text IS NOT NULL AND md5(c.text) = md5(i.text))
        |ORDER BY content_hash""".stripMargin,
    // s06: stream-stream interval join == the batch range join on
    // µs-truncated event time (Spark's streamed ts is µs by
    // construction; epoch_us truncates DuckDB's nanos identically).
    "s06_stream_stream_join" ->
      """SELECT a.user_id AS user_id, a.event_id AS view_id,
        |  b.event_id AS purchase_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    // q37: exact moments — integer sums (DuckDB auto-widens to
    // HUGEINT, Spark accumulates decimal), doubles only in the final
    // correctly-rounded formula chain, association mirrored exactly.
    // q38: the oracle states the SAME total order through the
    // engine's own ntile — the Spark side never executes a
    // global-ordering window (two-phase rank, Relational
    // .globalRankDeciles); hash-matching the per-decile profile
    // certifies every bucket boundary of the distributed formulation.
    "q38_global_rank_deciles" ->
      """WITH t AS (
        |  SELECT o_orderkey,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT cents, ntile(10) OVER (ORDER BY cents, o_orderkey) AS decile
        |  FROM t)
        |SELECT CAST(decile AS BIGINT) AS decile, count(*) AS n,
        |  min(cents) AS lo, max(cents) AS hi,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM r GROUP BY decile ORDER BY decile""".stripMargin,
    // q39: the Bloom bitset re-derived from first principles — DuckDB
    // rebuilds the distinct bit-position set from the build keys
    // (portable mix over key ⊕ seed_j, masked to mBits) and
    // re-evaluates every probe's k-way conjunction. One flipped bit
    // anywhere in build, merge, or probe breaks the hash; false
    // positives are certified as such, not tolerated as error.
    "q39_bloom_prefilter" ->
      s"""WITH seeds(j, s) AS (VALUES
        |    (0, CAST(11400714819323198485 AS UBIGINT)),
        |    (1, CAST(4354685564936845354 AS UBIGINT)),
        |    (2, CAST(15755400384260043839 AS UBIGINT))),
        |build AS (
        |  SELECT DISTINCT CAST(o_orderkey AS UBIGINT) AS key
        |  FROM orders WHERE o_totalprice > 480000),
        |bits AS (
        |  SELECT DISTINCT CAST(${mixSqlU("xor(b.key, sd.s)")} % 16384 AS BIGINT) AS p
        |  FROM build b CROSS JOIN seeds sd),
        |probes AS (SELECT DISTINCT CAST(l_orderkey AS UBIGINT) AS key FROM lineitem),
        |pb AS (
        |  SELECT pr.key, CAST(${mixSqlU("xor(pr.key, sd.s)")} % 16384 AS BIGINT) AS p
        |  FROM probes pr CROSS JOIN seeds sd),
        |flags AS (
        |  SELECT key, bool_and(p IN (SELECT p FROM bits)) AS bloom_pass
        |  FROM pb GROUP BY key)
        |SELECT CAST(f.key AS BIGINT) AS l_orderkey, f.bloom_pass,
        |  (f.key IN (SELECT key FROM build)) AS is_member
        |FROM flags f ORDER BY l_orderkey""".stripMargin,
    "q37_stats_moments" ->
      """WITH q AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x,
        |    CAST(floor(l_quantity + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        |  FROM q GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(sx AS BIGINT) AS sum_price_cents,
        |  (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0 AS avg_price,
        |  sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n * (n - 1) AS DOUBLE)) AS std_price_cents,
        |  CAST(n * sxy - sx * sy AS DOUBLE)
        |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin,
    // q36: the batch bucketized range join answers the SAME question
    // as the streaming interval join — one DuckDB range-join ground
    // truth holds both temporal-join implementations.
    "q36_range_join" ->
      """SELECT a.user_id AS user_id, a.event_id AS view_id,
        |  b.event_id AS purchase_id,
        |  epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND epoch_us(b.ts) >= epoch_us(a.ts)
        | AND epoch_us(b.ts) <= epoch_us(a.ts) + 3600000000
        |ORDER BY view_id, purchase_id""".stripMargin,
    "s02_streaming_windowed_counts" ->
      """WITH ev AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        |w AS (SELECT (us // 21600000000) * 21600000000 AS ws_us, event_type FROM ev),
        |wm AS (SELECT max(us) - 3600000000 AS wm_us FROM ev)
        |SELECT make_timestamp(ws_us) AS window_start, event_type, count(*) AS n
        |FROM w, wm WHERE ws_us + 21600000000 <= wm_us
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // s13: the enrichment join recomputed as a plain batch join —
    // exact integer cents quantized per row before the sum.
    "s13_stream_static_join" ->
      """SELECT c.c_mktsegment, e.event_type, count(*) AS n,
        |  CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS value_cents
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY c.c_mktsegment, e.event_type
        |ORDER BY c.c_mktsegment, e.event_type""".stripMargin,
    // s12: gap sessionization with session_window's semantics — split
    // at gap ≥ 30 min (end-exclusive windows), session end = last
    // event + gap, and only sessions the final watermark (max ts −
    // 1 h) has passed are emitted in append mode (the s02 rule).
    "s12_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        |s AS (
        |  SELECT user_id, event_id, us,
        |    CASE WHEN lag(us) OVER (PARTITION BY user_id
        |                            ORDER BY us, event_id) IS NULL
        |           OR us - lag(us) OVER (PARTITION BY user_id
        |                                 ORDER BY us, event_id) >= 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |g AS (
        |  SELECT user_id, us,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY us, event_id) AS BIGINT) AS sid
        |  FROM s),
        |agg AS (
        |  SELECT user_id, min(us) AS start_us,
        |    max(us) + 1800000000 AS end_us, count(*) AS n_events
        |  FROM g GROUP BY user_id, sid),
        |wm AS (SELECT max(us) - 3600000000 AS wm_us FROM ev)
        |SELECT user_id, start_us, end_us, n_events
        |FROM agg, wm WHERE end_us <= wm_us
        |ORDER BY user_id, start_us""".stripMargin,
    // io round-trips: the oracle reads the ORIGINAL parquet tables —
    // a hash match therefore certifies the write→read round-trip
    // through each format was lossless, not just the final query.
    "io01_orc_roundtrip" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(floor(l_extendedprice * 100 + 0.5)) / 100.0 AS sum_base_price,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "io02_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_orderkey <= 5000
        |ORDER BY o_orderkey""".stripMargin,
    "io03_partitioned_prune" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, count(*) AS n,
        |  sum(floor(value * 100 + 0.5)) / 100.0 AS total_value
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "io04_csv_roundtrip" ->
      """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        |FROM customer WHERE c_custkey <= 500
        |ORDER BY c_custkey""".stripMargin,
    // io05: the Z-ordered rewrite is layout-only, so the oracle is
    // the SOURCE table — any row lost, duplicated, or mutated by the
    // clustering write breaks the hash. µs epochs on both sides (the
    // s06 cross-engine time rule).
    "io05_zorder_cluster" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // io08: the bloom-served point probes must equal the plain
    // IN-list filter — no false negatives, residual kills the rest.
    "io08_bloom_point" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events WHERE event_id IN (7, 107, 207, 307, 407)
        |ORDER BY event_id""".stripMargin,
    // io09: the bloom-pruned native-parquet point lookup must equal
    // the plain filter — blooms have no false negatives.
    "io09_parquet_bloom" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_custkey = 101
        |ORDER BY o_orderkey""".stripMargin,
    // io07: the pruned range scan must equal the plain filter — the
    // zone map is a superset filter, never a truth source.
    "io07_zonemap_prune" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |FROM events WHERE user_id BETWEEN 3 AND 7
        |ORDER BY event_id""".stripMargin,
    // io06: union-by-name semantics re-derived from the source table
    // — generation 1 rows surface the evolved column as NULL.
    "io06_schema_evolution" ->
      """SELECT o_orderkey, o_custkey, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderkey <= 20000 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey <= 20000 AND o_orderkey % 2 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // v05: transitive closure over v03's exhaustively-recomputed
    // ≥ 0.95 cosine pair graph (recursive CTE, min reachable id) —
    // the vector twin of d13's closure oracle.
    "v05_embedding_clusters" ->
      """WITH RECURSIVE planted AS (
        |  SELECT vec_id + 100000 AS pid,
        |    list_transform(embedding, (x, i) ->
        |      CAST(x + CAST(CAST(((((vec_id + 100000) * 2654435761 + (i - 1) * 40503) % 2001) - 1000) AS DOUBLE) / 20000.0 AS FLOAT) AS FLOAT)) AS emb
        |  FROM embeddings WHERE vec_id < 40),
        |corpus AS (
        |  SELECT vec_id, embedding AS emb FROM embeddings
        |  UNION ALL SELECT pid AS vec_id, emb FROM planted),
        |e AS (
        |  SELECT vec_id, emb::DOUBLE[] AS v,
        |    sqrt(list_dot_product(emb::DOUBLE[], emb::DOUBLE[])) AS nrm
        |  FROM corpus),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    floor((CASE WHEN a.nrm * b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END) * 10000 + 0.5) / 10000.0 AS cosine
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |jp AS (SELECT id_a, id_b FROM p WHERE cosine >= 0.95),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM jp
        |  UNION ALL SELECT id_b AS src, id_a AS dst FROM jp),
        |reach(id, r) AS (
        |  SELECT DISTINCT src, src FROM edges
        |  UNION
        |  SELECT g.src, reach.r FROM edges g JOIN reach ON g.dst = reach.id)
        |SELECT id AS vec_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    // d46: the full SemDeDup chain in SQL — planted corpus, ±1
    // projection signs (mixSqlU bit 0, i*10+j keying at outDim 10),
    // integer projection, sign-bitmask cells, hot-cell guard (n <=
    // 4000), quantized in-cell cosine, min-id keep rule.
    "d46_semantic_dedup" ->
      s"""WITH planted AS (
        |  SELECT vec_id + 100000 AS pid,
        |    list_transform(embedding, (x, i) ->
        |      CAST(x + CAST(CAST(((((vec_id + 100000) * 2654435761 + (i - 1) * 40503) % 2001) - 1000) AS DOUBLE) / 20000.0 AS FLOAT) AS FLOAT)) AS emb
        |  FROM embeddings WHERE vec_id < 40),
        |corpus AS (
        |  SELECT vec_id, embedding AS emb FROM embeddings
        |  UNION ALL SELECT pid AS vec_id, emb FROM planted),
        |f AS (
        |  SELECT vec_id, emb FROM corpus
        |  WHERE emb IS NOT NULL AND len(emb) = 64),
        |sgn AS (
        |  SELECT i, j,
        |    CASE WHEN ${mixSqlU("xor(CAST(i*10 + j AS UBIGINT), CAST(25214903917 AS UBIGINT))")} % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM range(64) t1(i) CROSS JOIN range(10) t2(j)),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(emb::DOUBLE[], x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM f),
        |px AS (SELECT vec_id, i, qv[i + 1] AS qx FROM q CROSS JOIN range(64) t(i)),
        |y AS (
        |  SELECT px.vec_id, s.j, CAST(sum(px.qx * s.s) AS BIGINT) AS y_units
        |  FROM px JOIN sgn s ON s.i = px.i GROUP BY 1, 2),
        |cells AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN y_units > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS cell
        |  FROM y GROUP BY vec_id),
        |cnt AS (SELECT cell, count(*) AS n FROM cells GROUP BY cell),
        |e AS (
        |  SELECT c.vec_id, c.cell, f.emb::DOUBLE[] AS v,
        |    sqrt(list_dot_product(f.emb::DOUBLE[], f.emb::DOUBLE[])) AS nrm
        |  FROM cells c JOIN f USING (vec_id)),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    floor((CASE WHEN a.nrm * b.nrm > 0 THEN list_dot_product(a.v, b.v) / (a.nrm * b.nrm) ELSE 0.0 END) * 10000 + 0.5) / 10000.0 AS cosine
        |  FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |  JOIN cnt ON cnt.cell = a.cell AND cnt.n <= 4000),
        |dups AS (SELECT DISTINCT id_b FROM p WHERE cosine >= 0.95)
        |SELECT c.vec_id, c.cell,
        |  d.id_b IS NOT NULL AS is_dup, d.id_b IS NULL AS keep
        |FROM cells c LEFT JOIN dups d ON d.id_b = c.vec_id
        |ORDER BY c.vec_id""".stripMargin,
    // v06: probing every IVF cell is exact, so the index search
    // shares v01's brute-force oracle verbatim.
    "v06_ivf_exact" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "v01_knn_brute_force" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v07: zero hyperplanes degrade the sign-LSH to exhaustive (all
    // pairs share the one bucket), so the ANN output is exactly the
    // ALL-PAIRS brute-force top-k — v01's oracle without the query
    // filter.
    "v07_lsh_exact" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v02/v04: the approximate ANN result itself isn't DuckDB-
    // recomputable (the LSH planes / IVF centroids are Spark-side
    // constructions), so the certified form emits the brute-force
    // TRUTH rows — v07's all-pairs oracle verbatim — plus one boolean
    // recall@5 >= 0.6 certificate computed distributively against the
    // live approximate operator. DuckDB emits literal TRUE: the cell
    // hash-matches exactly when the ANN machinery clears the bar.
    "v02_ann_top_k" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS ann_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    "v04_ann_ivf" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS ivf_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v17: the v01/v04 oracle with the label equality moved INTO the
    // join — each query's candidate scope is its own label's rows,
    // mirroring the filtered truth side of the certificate.
    "v17_filtered_ann" ->
      """WITH e AS (
        |  SELECT vec_id, label, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q JOIN e c ON q.label = c.label
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS filtered_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v15: IVF-PQ certified exactly like v02/v04 — brute-force truth
    // rows (the PQ models are Spark-side k-means constructions, not
    // DuckDB-recomputable) plus one recall@5 >= 0.6 certificate
    // computed distributively against the live ADC search.
    "v15_ivf_pq" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS ivfpq_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v19: exact MIPS — the inner product IS the score (no norm
    // divide), so the oracle is one positional dot per pair, ranked.
    // v21: the radius predicate recomputed exhaustively over the
    // re-planted corpus — quantize-then-compare on both engines so
    // the threshold cuts the identical set.
    "v21_range_search" ->
      """WITH planted AS (
        |  SELECT vec_id + 100000 AS pid,
        |    list_transform(embedding, (x, i) ->
        |      CAST(x + CAST(CAST(((((vec_id + 100000) * 2654435761 + (i - 1) * 40503) % 2001) - 1000) AS DOUBLE) / 20000.0 AS FLOAT) AS FLOAT)) AS emb
        |  FROM embeddings WHERE vec_id < 40),
        |corpus AS (
        |  SELECT vec_id, embedding AS emb FROM embeddings
        |  UNION ALL SELECT pid AS vec_id, emb FROM planted),
        |e AS (
        |  SELECT vec_id, emb::DOUBLE[] AS v,
        |    sqrt(list_dot_product(emb::DOUBLE[], emb::DOUBLE[])) AS nrm
        |  FROM corpus WHERE emb IS NOT NULL),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    floor((CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END) * 10000 + 0.5) / 10000.0 AS cosine
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id)
        |SELECT query_id, nbr_id, cosine FROM scored
        |WHERE cosine >= 0.30 ORDER BY query_id, nbr_id""".stripMargin,
    "v19_mips" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    list_dot_product(q.v, c.v) AS ip
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, ip,
        |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(ip * 10000 + 0.5) / 10000.0 AS dot, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v20: v19's truth rows + the certificate literal — the
    // augmentation/asymmetric-LSH machinery must actually clear the
    // recall bar for the Spark side to emit TRUE.
    "v20_mips_ann" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    list_dot_product(q.v, c.v) AS ip
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, ip,
        |    row_number() OVER (PARTITION BY query_id ORDER BY ip DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(ip * 10000 + 0.5) / 10000.0 AS dot, rank,
        |  TRUE AS mips_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v18: same truth rows; the harder 0.75 bar is Spark-side — the
    // oracle affirms the certificate literal as always.
    "v18_pq_rerank" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS rerank_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v16: same certificate through the saved-then-loaded PQ artifact
    // (the spec pins loaded search byte-equal to in-memory search).
    "v16_ivfpq_saved" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS ivfpq_saved_recall_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v22: PQ append ≡ rebuild-with-same-model. Truth rows are v16's
    // brute-force top-5 (the PQ model is a Spark-side k-means
    // construction, not DuckDB-recomputable); the two certificate
    // literals are only TRUE Spark-side when (a) the appended artifact
    // multiset-equals a one-shot re-encode of the full corpus under
    // the frozen model and (b) ADC recall@5 over it clears 0.6.
    "v22_pq_append" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS pq_append_recall_ok, TRUE AS pq_append_equiv_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v23: the full PQ maintenance lifecycle (append ×2 → delete →
    // compact). Truth is brute-force over the SURVIVING corpus (the
    // v12 oracle shape: the deleted range excluded from candidates);
    // the equivalence certificate pins the compacted artifact
    // multiset-exactly to a re-encode of corpus-minus-deleted.
    // v24: every output cell is deterministic (counts + decision
    // booleans with measured >= 0.06 margins, seed-fixed k-means), so
    // the oracle is the literal expected row — the v02 pattern.
    "v24_pq_drift_monitor" ->
      """SELECT CAST(250 AS BIGINT) AS truth_rows,
        |  TRUE AS monitor_before_ok,
        |  TRUE AS drift_flagged_ok,
        |  TRUE AS rebuild_restored_ok""".stripMargin,
    "v23_pq_lifecycle" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
        |    AND NOT (c.vec_id >= 50 AND c.vec_id < 100)),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank,
        |  TRUE AS pq_lifecycle_recall_ok, TRUE AS pq_lifecycle_equiv_ok
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v09: the int8 quantization (floor-half-up, engine-portable) and
    // the integer cosine recomputed exactly — the compressed corpus's
    // ranking is hash-compared, not approximated.
    "v09_int8_knn" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma > 0
        |         THEN list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / ma * 127 + 0.5))
        |         ELSE list_transform(embedding, x -> 0.0) END AS qv
        |  FROM m),
        |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM q),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
        |    CASE WHEN a.nrm * b.nrm > 0 THEN list_dot_product(a.qv, b.qv) / (a.nrm * b.nrm) ELSE 0.0 END AS cos
        |  FROM n a, n b WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v10: IVF+SQ8 probed at nProbe=nCells is exact over the
    // quantized corpus - shares v09's int8 brute-force oracle verbatim.
    "v10_ivf_int8" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS ma
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN ma > 0
        |         THEN list_transform(embedding, x -> floor(CAST(x AS DOUBLE) / ma * 127 + 0.5))
        |         ELSE list_transform(embedding, x -> 0.0) END AS qv
        |  FROM m),
        |n AS (SELECT vec_id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM q),
        |scored AS (
        |  SELECT a.vec_id AS query_id, b.vec_id AS nbr_id,
        |    CASE WHEN a.nrm * b.nrm > 0 THEN list_dot_product(a.qv, b.qv) / (a.nrm * b.nrm) ELSE 0.0 END AS cos
        |  FROM n a, n b WHERE a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v08: searching the saved-and-reloaded IVF index with every cell
    // probed is exact — shares v06's brute-force oracle verbatim.
    "v08_ivf_saved" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // q40: iterated earliest-qualifying-step funnel, µs-epoch time
    // compares on both engines (the s06/q36 contract).
    // q56: the greedy windowed chain replayed — each step's filter
    // gains the within-window upper bound.
    "q56_windowed_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT user_id, min(us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.us) AS t2_us FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.t1_us
        |    AND e.us <= s1.t1_us + 3600000000
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.us) AS t3_us FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.t2_us
        |    AND e.us <= s2.t2_us + 3600000000
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth,
        |  s1.t1_us, s2.t2_us, s3.t3_us
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    "q40_funnel_depth" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        |s1 AS (
        |  SELECT user_id, min(us) AS t1_us FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, min(e.us) AS t2_us FROM e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND e.us > s1.t1_us
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, min(e.us) AS t3_us FROM e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND e.us > s2.t2_us
        |  GROUP BY e.user_id)
        |SELECT s1.user_id,
        |  CAST(1 + CASE WHEN s2.user_id IS NULL THEN 0 ELSE 1 END
        |         + CASE WHEN s3.user_id IS NULL THEN 0 ELSE 1 END AS BIGINT) AS depth,
        |  s1.t1_us, s2.t2_us, s3.t3_us
        |FROM s1
        |LEFT JOIN s2 ON s1.user_id = s2.user_id
        |LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,
    // q41: the 3σ predicate in pure integers (q37's moment technique
    // applied to a WHERE clause): (n−1)(n·x−sx)² > 9n(n·sxx−sx²),
    // HUGEINT products mirroring Spark's DECIMAL(38,0).
    "q41_value_outliers" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(v_cents) AS sx, sum(CAST(v_cents AS HUGEINT) * v_cents) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.v_cents
        |FROM e JOIN m USING (event_type)
        |WHERE m.n > 1
        |  AND CAST(m.n - 1 AS HUGEINT)
        |        * (CAST(m.n AS HUGEINT) * e.v_cents - m.sx)
        |        * (CAST(m.n AS HUGEINT) * e.v_cents - m.sx)
        |      > 9 * CAST(m.n AS HUGEINT)
        |        * (CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx)
        |ORDER BY e.event_id""".stripMargin,
    // s11: the watermark rule replayed in SQL — batches are equal
    // time quartiles (integer µs floor-div), the planted cohort
    // (event_id % 17) arrives 2 batches late, and a row is in the DLQ
    // iff its event time is below (running max of PRIOR batches' max
    // event time) − 48 h. Window max over batch order = the running
    // watermark; the first batch has no prior max and flags nothing.
    "s11_late_data_dlq" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS ts_us FROM events),
        |bd AS (SELECT min(ts_us) AS tmin,
        |         (max(ts_us) - min(ts_us)) // 4 + 1 AS band FROM ev),
        |b AS (SELECT event_id, ts_us,
        |        CAST(CASE WHEN event_id % 17 = 0 THEN least(bb + 2, 3)
        |             ELSE bb END AS INT) AS batch
        |      FROM (SELECT event_id, ts_us, (ts_us - tmin) // band AS bb
        |            FROM ev CROSS JOIN bd)),
        |pm AS (SELECT batch, max(ts_us) AS bmax FROM b GROUP BY batch),
        |wm AS (SELECT batch, max(bmax) OVER (ORDER BY batch
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
        |       FROM pm)
        |SELECT b.event_id, b.ts_us, b.batch
        |FROM b JOIN wm USING (batch)
        |WHERE wm.prevmax IS NOT NULL
        |  AND b.ts_us < wm.prevmax - 172800000000
        |ORDER BY event_id""".stripMargin,
    // s09: the streaming drain is stateless stream-static enrichment,
    // so it must equal the batch outlier query — q41's oracle verbatim.
    "s09_streaming_outliers" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        |  FROM events),
        |m AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(v_cents) AS sx, sum(CAST(v_cents AS HUGEINT) * v_cents) AS sxx
        |  FROM e GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.v_cents
        |FROM e JOIN m USING (event_type)
        |WHERE m.n > 1
        |  AND CAST(m.n - 1 AS HUGEINT)
        |        * (CAST(m.n AS HUGEINT) * e.v_cents - m.sx)
        |        * (CAST(m.n AS HUGEINT) * e.v_cents - m.sx)
        |      > 9 * CAST(m.n AS HUGEINT)
        |        * (CAST(m.n AS HUGEINT) * m.sxx - CAST(m.sx AS HUGEINT) * m.sx)
        |ORDER BY e.event_id""".stripMargin,
    // q42: ISO-Monday week buckets on both engines (UTC sessions);
    // offsets as exact integer arithmetic on µs epochs of the
    // truncated weeks.
    "q42_cohort_retention" ->
      """WITH c AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS TIMESTAMP) AS week FROM events)
        |SELECT c.cohort_week,
        |  CAST((epoch_us(a.week) - epoch_us(c.cohort_week)) // 604800000000 AS BIGINT) AS week_offset,
        |  count(*) AS n_users
        |FROM a JOIN c USING (user_id)
        |WHERE a.week >= c.cohort_week
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin,
    // q43: IGNORE NULLS forward fill over the generated daily spine;
    // exact cents, day buckets cast back to TIMESTAMP (DuckDB's
    // date_trunc day yields DATE).
    "q43_forward_fill" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 101 = 0),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT s.event_type, s.day, d.cents
        |  FROM spine s LEFT JOIN daily d USING (event_type, day))
        |SELECT event_type, day,
        |  CAST(last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type
        |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cents_filled,
        |  cents IS NOT NULL AS is_observed
        |FROM j ORDER BY event_type, day""".stripMargin,
    // q50: support and lift recomputed over the distinct order/part
    // relation; all-positive integer products, // == div.
    "q50_basket_lift" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem),
        |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
        |cu AS (SELECT p, count(*) AS n_item FROM li GROUP BY p),
        |pairs AS (
        |  SELECT a.p AS u, b.p AS v, count(*) AS n_both
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
        |  GROUP BY 1, 2)
        |SELECT u, v, CAST(n_both AS BIGINT) AS n_both,
        |  CAST(x.n_item AS BIGINT) AS n_u, CAST(y.n_item AS BIGINT) AS n_v,
        |  CAST((n.n_orders * n_both * 1000000) // (x.n_item * y.n_item) AS BIGINT) AS lift_micro
        |FROM pairs JOIN cu x ON x.p = u JOIN cu y ON y.p = v CROSS JOIN n
        |ORDER BY n_both DESC, u, v LIMIT 50""".stripMargin,
    // q51: the gate runs the Misra–Gries sketch in its EXACT regime
    // (capacity 256 ≫ the fixture's distinct users per type), where
    // the counters are plain per-(type, user) counts — so the oracle
    // recomputes them as GROUP BY + row_number. The decrement/merge
    // bound regime is spec-pinned (MisraGriesSpec), not oracled.
    "q51_heavy_hitters" ->
      """WITH c AS (
        |  SELECT event_type, user_id, count(*) AS cnt_lb
        |  FROM events GROUP BY event_type, user_id),
        |r AS (
        |  SELECT event_type, user_id, cnt_lb,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt_lb DESC, user_id) AS rn
        |  FROM c)
        |SELECT event_type, user_id, cnt_lb, CAST(rn AS BIGINT) AS rank
        |FROM r WHERE rn <= 10 ORDER BY event_type, rank""".stripMargin,
    // q52: exact-regime KMV set algebra — the union of any type pair
    // fits in k = 4096 at every fixture SF, so the sketch holds the
    // full 48-bit-hash set and both estimates are exact distinct
    // HASH counts (counted on the same md5-prefix hash as Spark, so
    // even a collision — ~2^-49 at fixture scale — cannot split the
    // engines).
    "q52_kmv_set_ops" ->
      s"""WITH t AS (
        |  SELECT DISTINCT event_type,
        |    ${hex48Sql("CAST(user_id AS VARCHAR)")} AS skey
        |  FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |pr AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b
        |  FROM types a JOIN types b ON a.event_type < b.event_type),
        |uni AS (
        |  SELECT p.type_a, p.type_b, count(DISTINCT t.skey) AS est_union
        |  FROM pr p JOIN t ON t.event_type IN (p.type_a, p.type_b)
        |  GROUP BY p.type_a, p.type_b),
        |inter AS (
        |  SELECT ta.event_type AS type_a, tb.event_type AS type_b,
        |    count(*) AS c
        |  FROM t ta JOIN t tb
        |    ON ta.skey = tb.skey AND ta.event_type < tb.event_type
        |  GROUP BY 1, 2)
        |SELECT u.type_a, u.type_b, CAST(u.est_union AS BIGINT) AS est_union,
        |  CAST(coalesce(i.c, 0) AS BIGINT) AS est_inter
        |FROM uni u LEFT JOIN inter i
        |  ON u.type_a = i.type_a AND u.type_b = i.type_b
        |ORDER BY u.type_a, u.type_b""".stripMargin,
    // q53: dominance spelled as the O(n²) NOT EXISTS — deliberately
    // NOT the engine's per-date-aggregate algorithm, so the hash
    // match certifies the frontier independently of the rewrite.
    "q53_pareto_frontier" ->
      """WITH o AS (
        |  SELECT o_orderkey, o_orderdate,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents
        |  FROM orders)
        |SELECT o_orderkey, o_orderdate, price_cents FROM o a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM o b
        |  WHERE b.price_cents <= a.price_cents
        |    AND b.o_orderdate >= a.o_orderdate
        |    AND (b.price_cents < a.price_cents
        |         OR b.o_orderdate > a.o_orderdate))
        |ORDER BY o_orderkey""".stripMargin,
    // q54: the same integer basis-point arithmetic re-derived (floor
    // division on positive operands is identical in both engines).
    "q54_distribution_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS bucket,
        |    (ts < TIMESTAMP '2024-01-16') AS fh
        |  FROM events),
        |agg AS (
        |  SELECT event_type, bucket,
        |    sum(CASE WHEN fh THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb
        |        FROM agg GROUP BY 1)
        |SELECT a.event_type, CAST(t.na AS BIGINT) AS n_first,
        |  CAST(t.nb AS BIGINT) AS n_second,
        |  CAST(sum(abs(a.ca * 10000 // t.na - a.cb * 10000 // t.nb)) // 2
        |    AS BIGINT) AS tv_bp
        |FROM agg a JOIN tot t ON a.event_type = t.event_type
        |GROUP BY a.event_type, t.na, t.nb
        |ORDER BY a.event_type""".stripMargin,
    // q55: the same cumulative floor-bp arithmetic re-derived.
    "q55_ks_drift" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS bucket,
        |    (ts < TIMESTAMP '2024-01-16') AS fh
        |  FROM events),
        |agg AS (
        |  SELECT event_type, bucket,
        |    sum(CASE WHEN fh THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN NOT fh THEN 1 ELSE 0 END) AS cb
        |  FROM ev GROUP BY 1, 2),
        |tot AS (SELECT event_type, sum(ca) AS na, sum(cb) AS nb
        |        FROM agg GROUP BY 1),
        |cum AS (
        |  SELECT event_type, bucket,
        |    sum(ca) OVER (PARTITION BY event_type ORDER BY bucket) AS cuma,
        |    sum(cb) OVER (PARTITION BY event_type ORDER BY bucket) AS cumb
        |  FROM agg)
        |SELECT c.event_type, CAST(t.na AS BIGINT) AS n_first,
        |  CAST(t.nb AS BIGINT) AS n_second,
        |  CAST(max(abs(c.cuma * 10000 // t.na - c.cumb * 10000 // t.nb))
        |    AS BIGINT) AS ks_bp
        |FROM cum c JOIN tot t ON c.event_type = t.event_type
        |GROUP BY c.event_type, t.na, t.nb
        |ORDER BY c.event_type""".stripMargin,
    // q49: the interpolant re-derived with the same non-negative
    // integer weighted average — // and div agree above zero.
    "q49_interpolate" ->
      """WITH e AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
        |  FROM events WHERE event_id % 101 = 0),
        |daily AS (
        |  SELECT event_type, day, CAST(sum(cents) AS BIGINT) AS cents
        |  FROM e GROUP BY 1, 2),
        |bounds AS (
        |  SELECT event_type, min(day) AS lo, max(day) AS hi FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS TIMESTAMP) AS day
        |  FROM bounds),
        |j AS (
        |  SELECT s.event_type, s.day, d.cents,
        |    epoch_us(s.day) // 86400000000 AS di
        |  FROM spine s LEFT JOIN daily d USING (event_type, day)),
        |w AS (
        |  SELECT event_type, day, cents, di,
        |    last_value(CASE WHEN cents IS NOT NULL THEN di END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d0,
        |    last_value(cents IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
        |    first_value(CASE WHEN cents IS NOT NULL THEN di END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d1,
        |    first_value(cents IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1
        |  FROM j)
        |SELECT event_type, day,
        |  CAST(CASE WHEN cents IS NOT NULL THEN cents * 1000
        |       ELSE (v0 * 1000 * (d1 - di) + v1 * 1000 * (di - d0)) // (d1 - d0)
        |       END AS BIGINT) AS milli_cents,
        |  cents IS NOT NULL AS is_observed
        |FROM w ORDER BY event_type, day""".stripMargin,
    // q44: the reconciliation checksum recomputed by the second
    // engine — same canonical projections (cents, µs epochs, '|'
    // separators, concat_ws null skipping), same md5-prefix hash,
    // same mod-2^48 order-independent sum.
    "q44_table_checksums" ->
      s"""${checksumSql("customer",
           "concat_ws('|', c_custkey, c_name, c_nationkey, " +
             "CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT), c_mktsegment)")}
        |UNION ALL
        |${checksumSql("lineitem",
           "concat_ws('|', l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
             "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT), l_returnflag, " +
             "epoch_us(l_shipdate))")}
        |UNION ALL
        |${checksumSql("nation", "concat_ws('|', n_nationkey, n_name, n_regionkey)")}
        |UNION ALL
        |${checksumSql("orders",
           "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, " +
             "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT), epoch_us(o_orderdate))")}
        |UNION ALL
        |${checksumSql("region", "concat_ws('|', r_regionkey, r_name)")}
        |ORDER BY table_name""".stripMargin,
    // s10: the maintained streaming view must equal the aggregate
    // over the whole event history — recomputed directly.
    "s10_stream_incremental_agg" ->
      """SELECT event_type,
        |  CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents,
        |  count(*) AS n_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q47: every constraint recounted directly (CASE null semantics
    // mirror Spark's `when`: a NULL predicate is not a violation;
    // null FKs exempt per MATCH SIMPLE).
    "q47_constraint_audit" ->
      """SELECT 'customer_acctbal_nonneg' AS constraint_name,
        |  CAST(sum(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
        |FROM customer
        |UNION ALL
        |SELECT 'documents_text_present',
        |  CAST(sum(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'lineitem_orders_fk', CAST(count(*) AS BIGINT)
        |FROM lineitem l
        |WHERE l_orderkey IS NOT NULL
        |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
        |UNION ALL
        |SELECT 'lineitem_price_positive',
        |  CAST(sum(CASE WHEN NOT (l_extendedprice > 0) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_quantity_range',
        |  CAST(sum(CASE WHEN NOT (l_quantity >= 1 AND l_quantity <= 50) THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'lineitem_shipdate_notnull',
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM lineitem
        |UNION ALL
        |SELECT 'orders_pk_unique', CAST(coalesce(sum(n - 1), 0) AS BIGINT)
        |FROM (SELECT count(*) AS n FROM orders GROUP BY o_orderkey)
        |ORDER BY constraint_name""".stripMargin,
    // q46: exact distinct counts recomputed; the sketch-persistence
    // and accuracy booleans are Spark-side certificates DuckDB
    // affirms as literal TRUE (the q22 pattern).
    "q46_sketch_rollup" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS rollup_consistent, TRUE AS est_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q48: the KMV sample re-derived in ONE pass (bottom-256 md5 keys
    // per type) — equal to Spark's per-day-then-merge build because
    // bottom-k of a union is the bottom-k of per-part bottom-k's;
    // discrete quantiles at integer ceil(q*n) ranks.
    "q48_quantile_rollup" ->
      """WITH ev AS (
        |  SELECT event_type, event_id,
        |    md5(CAST(event_id AS VARCHAR)) AS skey,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        |  FROM events),
        |bk AS (
        |  SELECT event_type, v_cents,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY skey, event_id) AS rn
        |  FROM ev),
        |agg AS (
        |  SELECT event_type, list_sort(list(v_cents)) AS vs, count(*) AS n
        |  FROM bk WHERE rn <= 256 GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_sample,
        |  vs[CAST((n + 1) // 2 AS INT)] AS p50_est,
        |  vs[CAST((9 * n + 9) // 10 AS INT)] AS p90_est,
        |  vs[CAST((99 * n + 99) // 100 AS INT)] AS p99_est
        |FROM agg ORDER BY event_type""".stripMargin,
    // v13: the projection re-derived from first principles — sign
    // matrix from the portable mix (% 2 = bit 0), inputs quantized to
    // micro-units by the same floor-half-up, coordinates as integer
    // sums. xor seed = 25214903917 (the Spark-side literal).
    "v13_random_projection" ->
      s"""WITH sgn AS (
        |  SELECT i, j,
        |    CASE WHEN ${mixSqlU("xor(CAST(i*16 + j AS UBIGINT), CAST(25214903917 AS UBIGINT))")} % 2 = 1
        |         THEN 1 ELSE -1 END AS s
        |  FROM range(64) t1(i) CROSS JOIN range(16) t2(j)),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding::DOUBLE[], x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
        |px AS (
        |  SELECT vec_id, i, qv[i + 1] AS qx
        |  FROM q CROSS JOIN range(64) t(i))
        |SELECT px.vec_id, CAST(s.j AS BIGINT) AS dim_j,
        |  CAST(sum(px.qx * s.s) AS BIGINT) AS y_units
        |FROM px JOIN sgn s ON s.i = px.i
        |GROUP BY 1, 2 ORDER BY vec_id, dim_j""".stripMargin,
    // v14: build → append ×2 → compact → search at full probe is
    // exact over the whole corpus — v08's brute-force oracle
    // verbatim; a row lost/duplicated by the compaction rewrite (or a
    // stale pre-compact file) breaks the hash.
    "v14_ivf_compact" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v12: delete ≡ rebuild-without-deleted. Full-probe search over
    // the shrunk index equals exact search over the corpus minus the
    // removed id range — a stale deleted row or a lost survivor
    // breaks the hash.
    "v12_ivf_delete" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c
        |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id
        |    AND NOT (c.vec_id >= 50 AND c.vec_id < 100)),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
    // v11: append ≡ rebuild. Full-probe search over the appended index
    // equals exact search over the whole corpus — which is exactly
    // what a from-scratch rebuild searches: v08's brute-force oracle
    // verbatim. A lost, duplicated, or mis-normed appended row breaks
    // the hash.
    "v11_ivf_append" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings),
        |scored AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
        |    CASE WHEN q.nrm * c.nrm > 0 THEN list_dot_product(q.v, c.v) / (q.nrm * c.nrm) ELSE 0.0 END AS cos
        |  FROM e q, e c WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, nbr_id, floor(cos * 10000 + 0.5) / 10000.0 AS cosine, rank
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,
  )

  /** d38's oracle: the BPE merge loop UNROLLED (the g01 pattern) —
    * iteration k is three generated CTEs: pair counts over the
    * previous segmentation, the (n DESC, a, b) winner, and the
    * re-segmentation via literal `replace` on the U+001F-wrapped
    * symbol string (per-symbol wrapping means adjacent matches never
    * share separator chars, so leftmost-non-overlapping replace IS
    * the single-pass BPE merge — both engines' replace() semantics).
    * The result is the 30 winner rows UNION ALL'd in merge order. */
  private lazy val bpeVocabOracleSql: String = {
    val unions = (1 to bpeNMerges).map(k =>
      s"SELECT CAST($k AS BIGINT) AS merge_rank, a AS left_sym, b AS right_sym, a || b AS merged, n FROM win$k")
      .mkString("\nUNION ALL\n")
    s"""WITH $bpeLoopCtesSql
       |SELECT merge_rank, left_sym, right_sym, merged, n FROM (
       |$unions
       |) ORDER BY merge_rank""".stripMargin
  }

  /** d39's oracle: the same unrolled loop ([[bpeLoopCtesSql]]), final
    * segmentation aggregated into the trained symbol inventory. */
  private lazy val bpeSymbolsOracleSql: String = {
    val S = "chr(31)"
    s"""WITH $bpeLoopCtesSql
       |SELECT cs AS symbol, CAST(sum(freq) AS BIGINT) AS n,
       |  CAST(length(cs) AS BIGINT) AS n_chars
       |FROM (SELECT freq, unnest(str_split(s[2:length(s) - 1], $S || $S)) AS cs
       |      FROM seg$bpeNMerges)
       |GROUP BY cs ORDER BY symbol""".stripMargin
  }

  /** d40's oracle: the same unrolled loop, final segmentation
    * unwrapped to a (word → symbol count) table and joined to the
    * exploded token stream — per-document token counts under the
    * TRAINED tokenizer. The `tok` CTE of [[bpeLoopCtesSql]] already
    * carries (doc_id, toks); the inner join mirrors the engine's
    * trainer-exclusion contract (separator-bearing words drop). */
  private lazy val bpeEncodeOracleSql: String = {
    val S = "chr(31)"
    s"""WITH $bpeLoopCtesSql,
       |wsyms AS (
       |  SELECT replace(s, $S, '') AS w,
       |    CAST(len(str_split(s[2:length(s) - 1], $S || $S)) AS BIGINT) AS n_syms
       |  FROM seg$bpeNMerges),
       |dt AS (SELECT doc_id, unnest(toks) AS w FROM tok)
       |SELECT d.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ws.n_syms) AS BIGINT) AS n_tokens
       |FROM dt d JOIN wsyms ws USING (w)
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }

  private val bpeNMerges = 30

  /** The WITH-body shared by the d38/d39 oracles: word-frequency
    * table, wrapped seg0, and the merge loop unrolled to
    * seg[[bpeNMerges]]. */
  private lazy val bpeLoopCtesSql: String = {
    val S = "chr(31)"
    val nMerges = bpeNMerges
    // AS MATERIALIZED is load-bearing: every seg$k is referenced
    // twice (pair counts and the next re-segmentation), so DuckDB's
    // default CTE inlining doubles the plan per iteration — 2^30
    // scans of documents.parquet exhausts file descriptors before a
    // single row flows. Materializing pins each iteration to one
    // evaluation, the same linear shape the Spark loop executes.
    def iter(k: Int): String =
      s"""pc$k AS MATERIALIZED (
         |  SELECT cs[i] AS a, cs[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (
         |    SELECT freq, cs, unnest(range(1, len(cs))) AS i FROM (
         |      SELECT freq, str_split(s[2:length(s) - 1], $S || $S) AS cs
         |      FROM seg${k - 1}) WHERE len(cs) >= 2)
         |  GROUP BY a, b),
         |win$k AS MATERIALIZED (SELECT a, b, n FROM pc$k ORDER BY n DESC, a, b LIMIT 1),
         |seg$k AS MATERIALIZED (
         |  SELECT freq, replace(s, $S || w.a || $S || $S || w.b || $S,
         |    $S || w.a || w.b || $S) AS s
         |  FROM seg${k - 1} CROSS JOIN win$k w)"""
        .stripMargin
    s"""tok AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS toks
       |  FROM documents WHERE text IS NOT NULL),
       |wf AS (
       |  SELECT w, count(*) AS freq
       |  FROM (SELECT unnest(toks) AS w FROM tok)
       |  WHERE w NOT LIKE '%' || $S || '%'
       |  GROUP BY w),
       |seg0 AS MATERIALIZED (
       |  SELECT freq, regexp_replace(w, '(?s)(.)', $S || '\\1' || $S, 'g') AS s
       |  FROM wf),
       |${(1 to nMerges).map(iter).mkString(",\n")}""".stripMargin
  }

  /** g01's oracle: the integer-exact PageRank unrolled — iteration K
    * is two CTEs (contribution sum, damped update), all arithmetic
    * BIGINT floor-division and integer sums, so the SQL reproduces
    * the engine's fixed-point ranks bit-for-bit. */
  private lazy val pageRankOracleSql: String = {
    def iter(k: Int): String =
      s"""it$k AS (
         |  SELECT e.dst AS node, sum(p.r // d.deg) AS s
         |  FROM pr${k - 1} p
         |  JOIN edges e ON p.node = e.src
         |  JOIN deg d ON p.node = d.src
         |  GROUP BY e.dst),
         |pr$k AS (
         |  SELECT nd.node,
         |    CAST((150000000000 // nn.n) + ((85 * coalesce(i.s, 0)) // 100) AS BIGINT) AS r
         |  FROM nodes nd LEFT JOIN it$k i ON nd.node = i.node CROSS JOIN nn)"""
        .stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS s FROM lineitem),
       |edges AS (
       |  SELECT p AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s AS src, p AS dst FROM pairs),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM edges),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |pr0 AS (SELECT node, CAST(1000000000000 // n AS BIGINT) AS r
       |        FROM nodes CROSS JOIN nn),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)},
       |ranked AS (
       |  SELECT CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS node_type,
       |    CAST(node // 2 AS BIGINT) AS node_id,
       |    r AS rank_units,
       |    CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT) AS rank
       |  FROM pr3)
       |SELECT node_type, node_id, rank_units, rank FROM ranked
       |WHERE rank <= 100 ORDER BY rank""".stripMargin
  }

  /** The portable per-document fingerprint chain
    * (TextFunctions.fingerprintPortable64) re-derived in SQL — the
    * CTE prefix ending in `sgn(doc_id, fingerprint)`. ONE definition
    * shared by every oracle that consumes fingerprints (d16's split,
    * d19's stratified draw): a hash-chain tweak lands in all of them
    * or none, never desynchronized. Interpolate as
    * `s"WITH $fingerprintCtesSql ..."`. */
  private lazy val fingerprintCtesSql: String = fingerprintCtes("documents")

  /** Source-parameterized form: `src` may be a CTE (d34 runs the
    * chain over corpus ∪ increment). */
  private def fingerprintCtes(src: String): String =
    s"""toks AS (
      |  SELECT doc_id, unnest(lt) AS t, generate_subscripts(lt, 1) AS i
      |  FROM (SELECT doc_id, list_filter(regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> '') AS lt
      |        FROM $src WHERE text IS NOT NULL)),
      |h0 AS (
      |  SELECT doc_id, i, CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
      |      list_transform(regexp_extract_all(t, '(?s).'), c -> CAST(unicode(c) AS HUGEINT))),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS UBIGINT) AS ph
      |  FROM toks),
      |th AS (SELECT doc_id, i, ${mixSqlU("ph")} AS h FROM h0),
      |agg AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM th GROUP BY doc_id),
      |fp AS (SELECT doc_id, list_reduce(list_prepend(CAST(0 AS UBIGINT), hs),
      |         (a, b) -> ${mixSqlU("xor(a, b)")}) AS f FROM agg),
      |sgn AS (SELECT doc_id,
      |  CAST(CASE WHEN f >= 9223372036854775808 THEN CAST(f AS HUGEINT) - 18446744073709551616
      |            ELSE CAST(f AS HUGEINT) END AS BIGINT) AS fingerprint FROM fp)""".stripMargin

  /** q44's row hash spelled in SQL: the first 12 hex chars of md5
    * parsed to a 48-bit BIGINT by a per-char fold (DuckDB has no
    * hex-string→int cast), equal to Spark's `conv(substr(md5,1,12),
    * 16, 10)`. */
  private def hex48Sql(v: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform(regexp_extract_all(substr(md5($v), 1, 12), '.'),
       |      c -> CAST(instr('0123456789abcdef', c) - 1 AS BIGINT))),
       |    (a, b) -> a * 16 + b)""".stripMargin

  /** One q44 per-table checksum row (shared shape across the five
    * tables' UNION ALL). */
  private def checksumSql(table: String, canon: String): String =
    s"""SELECT '$table' AS table_name, count(*) AS n_rows,
       |  CAST(sum(CAST(${hex48Sql("s")} AS HUGEINT)) % 281474976710656 AS BIGINT) AS checksum48
       |FROM (SELECT $canon AS s FROM $table)""".stripMargin

  /** The portable 64-bit finalizer (SketchExpressions.portableMix64)
    * spelled in SQL over a UBIGINT operand: 128-bit intermediates for
    * the two 32-bit-constant multiplies, mod 2^64 after each. */
  private def mixSqlU(v: String): String = {
    val z1 = s"CAST((CAST(xor(($v), ($v) >> 33) AS HUGEINT) * 4283543511) % 18446744073709551616 AS UBIGINT)"
    val z2 = s"CAST((CAST(xor($z1, $z1 >> 29) AS HUGEINT) * 3301882366) % 18446744073709551616 AS UBIGINT)"
    s"xor($z2, $z2 >> 32)"
  }

  /** Wrap a query over the `wh` CTE — the warehouse as re-derived by
    * DuckDB from the dumped landing CSVs of the given batches (both
    * by default; p05's time travel re-derives from batch 1 alone). */
  /** One landing batch as a DuckDB CTE body (shared by [[cocoaOracle]]
    * and the p07 diff oracle — both must parse the same files the same
    * way). */
  private def cocoaBatchSql(dir: String, processedAt: String): String =
    s"""SELECT *, TIMESTAMP '$processedAt' AS processed_at
       |FROM read_csv('$cocoaOracleIn/$dir/*.csv', header=true,
       |  timestampformat='%Y-%m-%dT%H:%M:%S',
       |  types={'timestamp':'TIMESTAMP','quality_score':'DOUBLE',
       |         'shipment_weight_kg':'BIGINT','temperature_celsius':'DOUBLE'})""".stripMargin

  /** p07's oracle: both warehouse versions re-derived from the landing
    * CSVs, then diffed. The per-column IS NOT DISTINCT FROM chain is
    * the SQL spelling of the engine's single null-safe struct compare. */
  private lazy val cocoaVersionDiffOracleSql: String = {
    def wh(name: String, sources: Seq[String]): String =
      s"""ranked_$name AS (
         |  SELECT *, row_number() OVER (PARTITION BY shipment_id
         |    ORDER BY processed_at DESC, "timestamp" DESC) AS rn
         |  FROM (${sources.map(s => s"SELECT * FROM $s").mkString(" UNION ALL ")})),
         |$name AS (
         |  SELECT shipment_id, "timestamp", farm_id, region, bean_type,
         |    quality_score, shipment_weight_kg, temperature_celsius,
         |    shipment_weight_kg * 2.5 AS shipment_value_usd, processed_at
         |  FROM ranked_$name WHERE rn = 1)""".stripMargin
    val same = Seq("timestamp", "farm_id", "region", "bean_type",
        "quality_score", "shipment_weight_kg", "temperature_celsius",
        "shipment_value_usd", "processed_at")
      .map(c => s"""n."$c" IS NOT DISTINCT FROM o."$c"""")
      .mkString(" AND\n    ")
    s"""WITH b1 AS (${cocoaBatchSql("b1", "2023-11-14 22:13:20")}),
       |b2 AS (${cocoaBatchSql("b2", "2023-11-14 22:15:00")}),
       |${wh("wh0", Seq("b1"))},
       |${wh("wh1", Seq("b1", "b2"))}
       |SELECT n.*, CASE WHEN o.shipment_id IS NULL THEN 'insert'
       |  ELSE 'update' END AS change_type
       |FROM wh1 n LEFT JOIN wh0 o ON n.shipment_id = o.shipment_id
       |WHERE o.shipment_id IS NULL OR NOT ($same)
       |UNION ALL
       |SELECT o.*, 'delete' AS change_type
       |FROM wh0 o LEFT JOIN wh1 n ON o.shipment_id = n.shipment_id
       |WHERE n.shipment_id IS NULL
       |ORDER BY shipment_id""".stripMargin
  }

  private def cocoaOracle(body: String,
      batches: Seq[(String, String)] = Seq(
        "b1" -> "2023-11-14 22:13:20", "b2" -> "2023-11-14 22:15:00")): String = {
    val ctes = batches
      .map { case (d, ts) => s"$d AS (${cocoaBatchSql(d, ts)})" }.mkString(",\n")
    val unioned = batches.map(b => s"SELECT * FROM ${b._1}").mkString(" UNION ALL ")
    s"""WITH $ctes,
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY shipment_id
       |    ORDER BY processed_at DESC, "timestamp" DESC) AS rn
       |  FROM ($unioned)),
       |wh AS (
       |  SELECT shipment_id, "timestamp", farm_id, region, bean_type,
       |    quality_score, shipment_weight_kg, temperature_celsius,
       |    shipment_weight_kg * 2.5 AS shipment_value_usd, processed_at
       |  FROM ranked WHERE rn = 1)
       |$body""".stripMargin
  }
}
