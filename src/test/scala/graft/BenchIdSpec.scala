package graft

import org.scalatest.funsuite.AnyFunSuite

/** Build-time gate for the stdout bench-line contract (Bench.scala).
  *
  * Round 9's driver bench died 41 minutes in because x100/x101/x102
  * collided with x10 under the then-fixed `name.take(3)` short-id scheme —
  * the require in Bench aborted the run and BENCH_r09.json recorded
  * `parsed: null`. This spec moves both invariants to `sbt test` so a new
  * query that breaks either fails the build immediately, with no Spark
  * session needed:
  *
  *  1. short ids (name up to first '_') are unique across the declared
  *     query surface;
  *  2. the worst-case stdout line fits the driver's capture window: the
  *     driver keeps only the LAST 2000 chars of stdout and sbt's trailing
  *     "[success] Total time: ..." line consumes ~90 of them, so the JSON
  *     line must stay under ~1900 chars even when every per-query value
  *     prints at its widest plausible width.
  */
class BenchIdSpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keySet.toSeq.sorted
  private val ids = names.map(SparkEntry.shortId)

  test("short ids are unique across the declared query surface") {
    val dups = ids.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    assert(dups.isEmpty,
      s"colliding stdout short ids: ${dups.mkString(", ")} — rename the " +
        "new query so its prefix before the first '_' is unique")
  }

  test("every query name has a qNN/xNN-style short id") {
    // a name with no '_' would put the whole name on the stdout line and
    // silently eat the length budget
    names.foreach { n =>
      assert(n.contains("_"), s"query name '$n' has no '_' separator")
      assert(SparkEntry.shortId(n).matches("[a-z]+[0-9]+"),
        s"short id '${SparkEntry.shortId(n)}' of '$n' is not letter+digits")
    }
  }

  test("self-adjudication reference parsing: solo mins supersede an " +
      "ambient-inflated outer min, the nested solo object never reads " +
      "as a query, errored entries are skipped, and the breach gate " +
      "is max(2x, +0.5s)") {
    // pre-r17 artifact shape (no cpu fields) — must still parse, with
    // a wall-only reference
    val artifact =
      """{"metric":"total","value":9.9,"unit":"sec","sf":"/x/sf0.1","passes":3,"queries":{""" +
        """"x01_token_count":{"min":0.208,"passes":[0.290,0.209,0.208],"err":null},""" +
        """"x23_contamination":{"min":5.000,"passes":[5.1,5.0,5.2],"err":null,"solo":{"min":1.000,"passes":[1.2,1.0,1.1]}},""" +
        """"x99_broken":{"min":null,"passes":[],"err":"boom"}}}"""
    val ref = Bench.parseRefs(artifact)
    assert(ref == Map(
      "x01_token_count" -> Bench.Ref(0.208, None),
      "x23_contamination" -> Bench.Ref(1.000, None)),
      s"got $ref")
    // the gate: 2x for slow queries, +0.5s floor for fast ones
    assert(Bench.breaches(2.1, 1.0) && !Bench.breaches(1.9, 1.0))
    assert(!Bench.breaches(0.45, 0.1) && Bench.breaches(0.61, 0.1))
  }

  test("r17 artifact shape: cpu/cpuPasses/gc parse into the reference, " +
      "solo cpu supersedes an inflated outer cpu, and the flag gate " +
      "prefers CPU over wall when both sides carry it") {
    val artifact =
      """{"metric":"total","value":9.9,"unit":"sec","sf":"/x/sf0.1","passes":3,"queries":{""" +
        """"x01_token_count":{"min":0.208,"passes":[0.290,0.209,0.208],"err":null,"cpu":0.840,"cpuPasses":[0.901,0.840,0.855],"gc":0.012},""" +
        """"x23_contamination":{"min":5.000,"passes":[5.1,5.0,5.2],"err":null,"cpu":4.100,"cpuPasses":[4.2,4.1,4.3],"gc":0.100,"solo":{"min":1.000,"passes":[1.2,1.0,1.1],"cpu":3.900}},""" +
        """"x99_broken":{"min":null,"passes":[],"err":"boom"}}}"""
    val ref = Bench.parseRefs(artifact)
    assert(ref == Map(
      "x01_token_count" -> Bench.Ref(0.208, Some(0.840)),
      "x23_contamination" -> Bench.Ref(1.000, Some(3.900))),
      s"got $ref")
    // CPU-first gating: wall breached but CPU in band → NOT flagged
    // (the ambient signature); CPU breached → flagged regardless of
    // wall; wall-only fallback when either side lacks CPU
    val r = Bench.Ref(wall = 1.0, cpu = Some(2.0))
    assert(!Bench.isFlagged(Some(9.0), Some(2.1), r),
      "ambient wall inflation with in-band CPU must not flag")
    assert(Bench.isFlagged(Some(1.1), Some(4.2), r),
      "a CPU breach is a real regression even at in-band wall")
    assert(Bench.isFlagged(Some(9.0), None, r) &&
      Bench.isFlagged(Some(9.0), Some(9.0), Bench.Ref(1.0, None)),
      "missing CPU on either side falls back to the wall gate")
  }

  test("r18 artifact markers (dt/cr/wb) are tolerated between the cpu " +
      "block and the solo object, and an entry whose every pass " +
      "drain-timed-out (cpu omitted, dt only) still yields a wall ref") {
    val artifact =
      """{"metric":"total","value":9.9,"unit":"sec","sf":"/x/sf0.1","passes":3,"queries":{""" +
        """"x17_dedup_clusters":{"min":2.100,"passes":[2.3,2.1,2.2],"err":null,"cpu":2.900,"cpuPasses":[3.0,2.9,3.1],"gc":0.100,"cr":true},""" +
        """"x90_hll":{"min":3.100,"passes":[3.1,3.2,3.3],"err":null,"cpu":2.800,"cpuPasses":[2.8,2.9,2.9],"gc":0.050,"wb":true},""" +
        """"x124_pq":{"min":1.000,"passes":[1.0,1.1,1.2],"err":null,"dt":3},""" +
        """"x146_ext":{"min":9.000,"passes":[9.0,9.1,9.2],"err":null,"cpu":14.169,"cpuPasses":[14.2,14.2,14.3],"gc":0.200,"cr":true,"fl":true},""" +
        """"x147_audit":{"min":5.000,"passes":[5.1,5.0,5.2],"err":null,"cpu":4.100,"cpuPasses":[4.2,4.1,4.3],"gc":0.100,"dt":1,"cr":true,"wb":true,"solo":{"min":1.000,"passes":[1.2,1.0,1.1],"cpu":2.600}}}}"""
    val ref = Bench.parseRefs(artifact)
    assert(ref == Map(
      "x17_dedup_clusters" -> Bench.Ref(2.100, Some(2.900)),
      "x90_hll" -> Bench.Ref(3.100, Some(2.800)),
      "x124_pq" -> Bench.Ref(1.000, None),
      "x146_ext" -> Bench.Ref(9.000, Some(14.169)),
      "x147_audit" -> Bench.Ref(1.000, Some(2.600))),
      s"got $ref")
  }

  test("per-pass compile fields (compiles/compileMs) trail every entry, " +
      "after the solo object, and leave the reference unchanged") {
    val artifact =
      """{"metric":"total","value":9.9,"unit":"sec","sf":"/x/sf0.01","passes":2,"queries":{""" +
        """"x69_cells":{"min":2.000,"passes":[2.5,2.0],"err":null,"cpu":3.000,"cpuPasses":[3.5,3.0],"gc":0.100,"compiles":[40,2],"compileMs":[812.4,30.1]},""" +
        """"x125_knn":{"min":4.000,"passes":[4.1,4.0],"err":null,"cpu":5.000,"cpuPasses":[5.1,5.0],"gc":0.100,"cr":true,"solo":{"min":1.500,"passes":[1.6,1.5],"cpu":2.500},"compiles":[12,0],"compileMs":[150.0,0.0]},""" +
        """"x99_broken":{"min":null,"passes":[],"err":"boom","compiles":[],"compileMs":[]}}}"""
    val ref = Bench.parseRefs(artifact)
    assert(ref == Map(
      "x69_cells" -> Bench.Ref(2.000, Some(3.000)),
      "x125_knn" -> Bench.Ref(1.500, Some(2.500))),
      s"got $ref")
  }

  test("windowed references: the per-query UPPER MEDIAN over up to 3 " +
      "artifacts — one anomalously LOW run can never bind the gate, " +
      "wall and CPU windows form independently, and a query present " +
      "in only some artifacts still gets a reference") {
    // the r17 poisoning shape: x147's cpu read 0.848 in the degraded
    // run vs 1.551/2.837 in the healthy runs — the upper median (the
    // middle value of 3) must bind at 2.837, not 0.848
    val degraded = Map("x147" -> Bench.Ref(1.0, Some(0.848)),
      "x01" -> Bench.Ref(0.2, Some(0.8)))
    val quiet = Map("x147" -> Bench.Ref(1.1, Some(1.551)),
      "x01" -> Bench.Ref(0.21, Some(0.82)))
    val fresh = Map("x147" -> Bench.Ref(1.2, Some(2.837)),
      "xNew" -> Bench.Ref(0.5, None))
    val w = Bench.windowRefs(Seq(fresh, degraded, quiet))
    assert(w("x147") == Bench.Ref(1.1, Some(1.551)), s"got ${w("x147")}")
    assert(w("x01") == Bench.Ref(0.21, Some(0.82)))
    // singleton query: its own values; wall-only artifact contributes
    // no cpu
    assert(w("xNew") == Bench.Ref(0.5, None))
    // two artifacts: the upper median of 2 is the MAX — conservative
    // against the observed false-flag direction (anomalously low refs)
    val w2 = Bench.windowRefs(Seq(degraded, quiet))
    assert(w2("x147") == Bench.Ref(1.1, Some(1.551)))
    // a pre-r17 wall-only artifact in the window: cpu median forms
    // over the artifacts that carry cpu
    val wallOnly = Map("x147" -> Bench.Ref(0.9, None))
    val w3 = Bench.windowRefs(Seq(wallOnly, degraded, quiet))
    assert(w3("x147") == Bench.Ref(1.0, Some(1.551)), s"got ${w3("x147")}")
  }

  test("ungated wall breach: recorded when wall breaches but CPU is " +
      "in band on both sides; never when CPU gating is inactive or " +
      "CPU itself breaches (that flags, not marks)") {
    val r = Bench.Ref(wall = 1.0, cpu = Some(2.0))
    assert(Bench.ungatedWallBreach(Some(9.0), Some(2.1), r),
      "wall 9x with in-band CPU must be marked wb")
    assert(!Bench.ungatedWallBreach(Some(9.0), Some(4.2), r),
      "a CPU breach is a flag, not a wb marker")
    assert(!Bench.ungatedWallBreach(Some(1.1), Some(2.1), r))
    assert(!Bench.ungatedWallBreach(Some(9.0), None, r) &&
      !Bench.ungatedWallBreach(Some(9.0), Some(9.0), Bench.Ref(1.0, None)),
      "wall-only gating has no wb class — the wall gate itself fires")
  }

  test("worst-case stdout bench line fits the driver's 2000-char window") {
    // mirror Bench.line()/toJson() with every value at a pessimistic
    // width: Bench.rq prints 1 decimal below 10 s and integer seconds
    // above, so the per-value width is ≤ 3 chars for any query up to
    // 999 s (real sf0.1 per-query mins are < 7 s); full 3-decimal values
    // live in the bench_runs artifact. Round 13: Bench caps the stdout
    // map at the stdoutTopK most expensive queries and folds the rest
    // into a counted "rq"/"rsum" bucket, so the worst case models the
    // CAP's entries at the WIDEST ids, not the whole surface — the line
    // is bounded at any query count. Model at least 200 queries so the
    // gate stays pessimistic as the surface grows past today's size.
    val stdoutTopK = Bench.StdoutTopK
    val modeled = math.max(200, ids.size)
    val widest = ids.sortBy(id => (-id.length, id)).take(stdoutTopK)
    val entries = widest.map(id => "\"" + id + "\":999").mkString(",")
    // pessimistic optional fields, ALL of them at once: the
    // rest-bucket at its widest plausible print (999 cut queries,
    // 4-digit rsum, a 3-digit "rqe" errored-overflow count — the
    // >StdoutTopK-errors case), the errs field (Bench bounds it to
    // the 2 WIDEST short ids and an "ne" count), AND ","partial":true
    // — it appears only under SPARK_GRAFT_ONLY, but a future surface
    // must not be able to overflow the window through ANY reachable
    // field combination (round-13 verdict stretch)
    val worstRest =
      s""","rq":${modeled - stdoutTopK},"rsum":9999.9,"rqe":999"""
    val worstErrs = ""","ne":999""" +
      ids.sortBy(-_.length).take(2).map("\"" + _ + "\"")
        .mkString(""","errs":[""", ",", "]")
    val worstPartial = ""","partial":true"""
    // the self-adjudication flag count (3-digit worst case: every
    // query breaching at once), the r18 wb count at the same width,
    // and the induced-experiment marker
    val worstAdj = ""","adj":999,"wb":999,"fl":999"""
    val worstInduced = ""","induced":true"""
    // the r17 summed-CPU field at a pessimistic 7-char width
    val worstCpu = ""","cpu":99999.9"""
    val line =
      s"""{"metric":"total","value":99999.99,"unit":"sec"$worstCpu,"queries":{$entries},"sf":"sf0.1","passes":3$worstRest$worstErrs$worstAdj$worstPartial$worstInduced}"""
    val budget = 1900 // 2000-char window minus sbt's ~90-char success trailer
    val headroom = 400 // round-12 verdict ask: ≥400 chars spare at the cap
    assert(line.length <= budget - headroom,
      s"worst-case bench stdout line is ${line.length} chars > " +
        s"${budget - headroom} (budget $budget minus $headroom headroom) — " +
        "lower Bench.stdoutTopK or shorten ids before adding more queries")
  }
}
