package graft.fhir

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Par, Tables}

/** CLI entry point mirroring the reference's flag surface (main.go:29-39):
  *
  * {{{
  * runMain graft.fhir.FhirMain -path <bundleDir> -out <outDir>
  *   [-cousub <parquet>] [-disease <parquet>] [-asof YYYY-MM-DD]
  *   [-workers N] [-reset] [-debug]
  *   [-pgurl jdbc:postgresql://…] [-schema synth_ma]
  *   [-mongo mongodb://…] [-dbname fhir]
  * }}}
  *
  * `-path` → bundle scan root (S1); `-out` → warehouse dir receiving
  * `resources/` (S5), `rawstat/` (S6) and the three fact tables (S8).
  * `-workers` → shuffle partitions (the reference's worker count);
  * `-reset` → overwrite instead of append, the analogue of dropping the
  * Mongo collections + truncating fact tables (S9/S10). `-pgurl` routes
  * the three fact tables through [[JdbcFactSink]] (the reference's
  * Postgres COPY path, db.go:139), qualified by `-schema` (defaults to
  * the reference's `synth_ma` for Postgres, db.go:45-56); `-mongo`/
  * `-dbname` route the resource collections through
  * [[MongoResourceSink]] (bundle.go:111-124). Absent
  * flags fall back to the parquet warehouse, so `-out` alone is a fully
  * local run. Dims default to empty when no parquet is given (every
  * lookup takes the zero-value path, like an unseeded `synth_ma` schema).
  *
  * Like the reference, which uploads each bundle's resources and its
  * rawstat row together (bundle.go:111-124) and only then runs the stat
  * jobs (main.go:118-125), [[run]] does not serialize what is
  * independent: the dim reads and their lookup maps overlap the bundle
  * scan's planning, and the resource write overlaps rawstat and the three
  * rollups.
  */
object FhirMain {

  /** Go-flag-style parsing: -key value pairs plus bare boolean flags.
    * Like Go's flag package, unknown flags, stray positional tokens, and
    * a value-flag with no value are hard errors — a mistyped `-rest`
    * must not silently swallow the next flag.
    */
  def parseFlags(args: Array[String]): Map[String, String] = {
    val boolFlags = Set("-reset", "-debug")
    val valueFlags = Set("-path", "-out", "-cousub", "-disease", "-asof",
      "-workers", "-pgurl", "-mongo", "-dbname", "-schema")
    val opts = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case a if boolFlags(a) => opts(a) = "true"; i += 1
        case a if valueFlags(a) =>
          if (i + 1 >= args.length) sys.error(s"flag needs an argument: $a")
          opts(a) = args(i + 1); i += 2
        case a => sys.error(s"flag provided but not defined: $a")
      }
    }
    opts.toMap
  }

  /** Sink selection from the parsed flags — mirrors the reference wiring:
    * resources go to Mongo when `-mongo` is given (main.go:54), facts to
    * Postgres when `-pgurl` is given (main.go:61-69); otherwise both land
    * in the parquet warehouse under `-out`.
    */
  def sinksFor(opts: Map[String, String], out: String)
      : (ResourceSink, FactSink) = {
    lazy val parquet = new ParquetSink(out)
    val resources: ResourceSink = opts.get("-mongo") match {
      case Some(uri) =>
        new MongoResourceSink(uri, opts.getOrElse("-dbname", "fhir"))
      case None => parquet
    }
    val facts: FactSink = opts.get("-pgurl") match {
      case Some(url) =>
        // the reference lives in the synth_ma schema (db.go:45-56);
        // -schema overrides, empty string opts out of qualification
        val schema = opts.get("-schema").map(_.trim).filter(_.nonEmpty)
          .orElse(if (url.startsWith("jdbc:postgresql")) Some("synth_ma")
                  else None)
        // Postgres gets the reference's actual wire path — COPY FROM
        // STDIN per partition (db.go:139/235/330); other JDBC engines
        // (no COPY protocol) get batched inserts
        if (url.startsWith("jdbc:postgresql")) new CopyFactSink(url, schema)
        else new JdbcFactSink(url, schema)
      case None => parquet
    }
    (resources, facts)
  }

  /** S6/S7 store selection: with `-mongo` the rawstat materialized view
    * round-trips through the Mongo `rawstat` collection like the
    * reference (bundle.go:122-124 write, db.go:129-130 read); otherwise
    * it lives as a parquet table under `-out`.
    */
  def rawstatStoreFor(opts: Map[String, String], out: String): RawstatStore =
    opts.get("-mongo") match {
      case Some(uri) =>
        new MongoRawstatStore(uri, opts.getOrElse("-dbname", "fhir"))
      case None => new ParquetRawstatStore(out)
    }

  def main(args: Array[String]): Unit = {
    val opts = parseFlags(args)
    val path = opts.getOrElse("-path",
      sys.error("required: -path <bundle dir>"))
    val out = opts.getOrElse("-out", sys.error("required: -out <dir>"))
    val workers = opts.getOrElse("-workers", "32").toInt
    val asOf = opts.getOrElse("-asof", java.time.LocalDate.now().toString)

    val spark = GraftSession.build(
      master = s"local[$workers]", appName = "graft-fhir",
      shufflePartitions = workers)
    val (resourceSink, factSink) = sinksFor(opts, out)
    try run(spark, path, out, opts.get("-cousub"), opts.get("-disease"),
      asOf, reset = opts.contains("-reset"),
      debug = opts.contains("-debug"),
      resourceSink = Some(resourceSink), factSink = Some(factSink),
      rawstatStore = Some(rawstatStoreFor(opts, out)))
    finally spark.stop()
  }

  /** One ingest run: the reference's ingest (S1–S5), rawstat (S6/S7) and
    * the three fact rollups (S8), as a phase graph whose independent
    * branches run concurrently through [[graft.engine.Par]]:
    *
    * {{{
    * {dim maps ∥ bundle scan plan} → cache + count
    *   → {resource sink ∥ (rawstat write → read-back →
    *                       pop ∥ disease ∥ condition facts)}
    * }}}
    *
    * Rawstat is written and read back from its store before any fact
    * job starts. Every branch runs to its end even when a sibling fails:
    * a failing resource sink still leaves rawstat and all three fact
    * tables written, and a failing fact write leaves the other two
    * written. The first failure in branch order is rethrown — the
    * resource sink's before the rawstat branch's, and among the facts
    * pop before disease before condition — with every other failure
    * attached as suppressed.
    */
  def run(spark: SparkSession, path: String, out: String,
      cousubPath: Option[String], diseasePath: Option[String],
      asOf: String, reset: Boolean = true, debug: Boolean = false,
      resourceSink: Option[ResourceSink] = None,
      factSink: Option[FactSink] = None,
      rawstatStore: Option[RawstatStore] = None): Unit = {
    import spark.implicits._

    val parquet = new ParquetSink(out)
    val resSink = resourceSink.getOrElse(parquet)
    val fSink = factSink.getOrElse(parquet)
    // the reference always clears fact tables at startup (main.go:72-73)
    // and drops resource collections only under -reset (main.go:76-78)
    fSink.clearFactTables(Seq(
      "synth_pop_facts", "synth_disease_facts", "synth_condition_facts"))
    if (reset) resSink.reset()

    // dims come from parquet paths or, like the reference (main.go:137-202),
    // straight from a relational store: pass "jdbc:<url>#<table>" to read
    // via spark.read.jdbc (e.g. the synth_ma.synth_cousub_dim /
    // synth_condition_dim tables)
    def readDim(spec: String): DataFrame = spec.split("#", 2) match {
      case Array(url, table) if url.startsWith("jdbc:") =>
        spark.read.jdbc(url, table, new java.util.Properties)
      case _ => Tables.parquet(spark, spec)
    }
    def dims(): RawStats.Dims = RawStats.Dims.collect(
      RawStats.loadCousubDim(cousubPath
        .map(readDim)
        .getOrElse(Seq.empty[(String, String, String)]
          .toDF("cs_name", "ct_fips", "cs_fips"))),
      RawStats.loadDiseaseDim(diseasePath
        .map(readDim)
        .getOrElse(Seq.empty[(String, String, Int, Option[Int])]
          .toDF("code_system", "code", "condition_id", "disease_id"))))

    val t0 = System.nanoTime()
    def writeResources(bundles: DataFrame): Unit = {
      // not cached: `bundles` is, the parquet sink reads `routed` once, and
      // a sink that reads it more often caches it (MongoResourceSink)
      val routed = BundleIngest.routeResources(bundles)
      resSink.writeResources(routed)
      // -debug: per-collection routing counts (reference main.go:295-299
      // prints per-bundle diagnostics behind the same flag)
      if (debug)
        routed.groupBy("collection").count().orderBy("collection")
          .collect().foreach { r =>
            println(s"[debug] ${r.getString(0)}: ${r.getLong(1)} resources")
          }
    }

    def stats(bundles: DataFrame, nBundles: Long, nFiles: Int,
        dims: RawStats.Dims): Unit = {
      val rawstat = RawStats.build(bundles, dims, lit(asOf).cast("date"))
      // S6 → S7: rawstat persists through the configured store and the
      // rollups read it BACK from storage (never the live lineage) — the
      // reference's action boundary between ingest and stats
      // (main.go:118-125): the three rollup jobs must not re-run the
      // bundle-scan plan, and a crash between here and the facts leaves a
      // queryable rawstat behind.
      val store = rawstatStore.getOrElse(new ParquetRawstatStore(out))
      store.write(rawstat)
      // files the scan listed that gave no bundle: malformed, or no `entry`
      println(f"$nBundles FHIR bundles read in ${(System.nanoTime() - t0) / 1e9}%f seconds; " +
        s"${nFiles - nBundles} of $nFiles files skipped")

      val rawstatBack = store.read(spark)
      def job(name: String, facts: DataFrame => DataFrame): () => Unit = () => {
        val t = System.nanoTime()
        fSink.writeFacts(name, facts(rawstatBack))
        println(f"$name calculated in ${(System.nanoTime() - t) / 1e9}%f seconds")
      }
      // the three rollups share only their read-only input
      Par.all(
        job("synth_pop_facts", FactJobs.populationFacts),
        job("synth_disease_facts", FactJobs.diseaseFacts),
        job("synth_condition_facts", FactJobs.conditionFacts))
    }

    // phase 1: the dim reads and lookup maps (a listing, a footer read and
    // a collect job each from parquet) and the bundle plan (file listing,
    // schema resolution and the rewrite's expression tree, mostly driver
    // work) need nothing from each other. The scan's file index gives the
    // number of files it listed, without a job.
    // Caching starts after both, so a failed dim read leaves no cached
    // plan behind.
    val (dimMaps, (scan, nFiles)) = Par.both(() => dims(), () => {
      val scan = BundleIngest.rewriteBundle(BundleIngest.readBundles(spark, path))
      (scan, scan.inputFiles.length)
    })
    val bundles = scan.cache()
    try {
      val nBundles = bundles.count()
      // phase 2: the resource sink and the stats chain both read only the
      // cached bundles and write disjoint targets
      Par.all(() => writeResources(bundles),
        () => stats(bundles, nBundles, nFiles, dimMaps))
    } finally bundles.unpersist()
  }
}
