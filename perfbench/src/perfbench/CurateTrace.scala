package perfbench

import graft.ops.{Curation, CurationPipeline, Dedup}

/** Traced run of `curate_docs`: per-layer metrics.
  *
  * One traced `curate` + `writeCurated` is split into layers by the call site
  * Spark records for each SQL execution ("<action> at <File>:<line>"):
  * the first checkpoint in CurationPipeline.scala is the exact stage, every
  * execution in Dedup.scala is near-dup resolution, the second checkpoint is
  * the remaining flags (decontamination, quality, mixture), the `head` is the
  * stage report, and `writeCurated` is the export. Decontamination is also
  * timed as its own call, and the dedup layer's pair counts come from calls
  * to its public candidate and verify functions on the corpus.
  */
object CurateTrace {

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result
    val lr = new LayerReport(res)
    val docs = CurateDocs.docs(ctx)
    val out = s"${ctx.work}/out/curate-trace"

    res.attempted += 1
    CurateDocs.curateOnce(ctx, docs, s"$out/untraced") // warm-in

    val t = new Tracer(spark)
    for (_ <- 1 to BatchTrace.Reps) t.span("scan")(BatchTrace.force(docs))
    val scanS = CommonLayers.medianSeconds(t, "scan")
    val scan = t.spansNamed("scan").last.c
    lr.common("scan.self_s", scanS, "s")
    lr.common("scan.input_bytes", scan.scanFileBytes.toDouble, "bytes")
    lr.common("scan.rows", scan.inputRows.toDouble, "count")

    res.attempted += 2
    val exportDir = s"$out/traced"
    t.pause()
    val (untracedS, _) = Stats.time(CurateDocs.curateOnce(ctx, docs, exportDir))
    t.resume()
    val ((opSpan, report), gcS, heapMb) = Jvm.during(t.span("curate+writeCurated") {
      val (curated, r) = t.span("curate")(CurationPipeline.curate(docs, "doc_id", "text",
        "lang", evalSet = Some(CurateDocs.evalSet(ctx))))._2
      t.span("export")(CurationPipeline.writeCurated(curated, exportDir))
      r
    })
    if (!CurateDocs.verify(ctx, exportDir, report, res)) res.failed += 1
    report.foreach { case (stage, n) => lr.put(s"curation.survivors.$stage", n.toDouble, "count") }

    val execs = t.executionsIn(t.spansNamed("curate").last)
    val own = execs.filter(_.file == "CurationPipeline.scala")
    val checkpoints = own.filter(_.action == "localCheckpoint")
    val dedup = execs.filter(_.file == "Dedup.scala")
    val exactS = checkpoints.headOption.map(_.seconds).getOrElse(Double.NaN)
    val flagsS = checkpoints.drop(1).map(_.seconds).sum
    val reportS = own.filter(_.action == "head").map(_.seconds).sum
    val dedupS = dedup.map(_.seconds).sum
    lr.put("curation.exact_s", exactS, "s")
    lr.put("dedup.neardup_s", dedupS, "s")
    lr.put("curation.flags_s", flagsS, "s")
    lr.put("curation.report_s", reportS, "s")
    lr.put("dedup.shuffle_bytes", dedup.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    res.report += "curate executions: " +
      execs.map(x => f"${x.site}=${x.seconds}%.3f").mkString("; ")

    val evalSet = CurateDocs.evalSet(ctx)
    val decontamS = t.span("decontam")(BatchTrace.force(
      Curation.decontaminate(docs, "doc_id", "text", evalSet, "text", 13)))._1.seconds
    lr.put("curation.decontam_s", decontamS, "s")
    lr.put("curation.quality_s", flagsS - decontamS, "s")
    lr.notMeasured("curation.quality_s as its own span",
      "decontamination, quality and mixture flags run in one checkpoint action; " +
        "reported as that action's time minus a separate decontaminate call")

    val candidates = t.span("dedup.candidates")(
      Dedup.minhashCandidates(docs, "doc_id", "text").count())._2
    val (verifySpan, verified) = t.span("dedup.verified")(
      Dedup.minhashNearDups(docs, "doc_id", "text").count())
    lr.put("dedup.candidate_pairs", candidates.toDouble, "count")
    lr.put("dedup.verified_ratio", if (candidates == 0) Double.NaN else verified.toDouble / candidates,
      "ratio")
    lr.put("dedup.checkpoint_bytes", verifySpan.c.rddBlockBytes.toDouble, "bytes")
    res.report += s"dedup pair counts are over the whole corpus (curate runs them on exact " +
      s"survivors): candidates=$candidates verified=$verified"

    CommonLayers.export(lr, t, "export", Seq(exportDir))
    lr.put("curation.export_s", CommonLayers.medianSeconds(t, "export"), "s")
    val exportS = CommonLayers.medianSeconds(t, "export")
    val attributed = exactS + dedupS + flagsS + reportS + exportS
    CommonLayers.operation(lr, t, "curate+writeCurated", untracedS, attributed, gcS, heapMb)
    CommonLayers.shares(lr, opSpan.seconds, Seq("curation.exact" -> exactS, "dedup.neardup" -> dedupS,
      "curation.flags" -> flagsS, "curation.report" -> reportS, "curation.export" -> exportS))
    res.report += s"traced op ${opSpan.seconds} s, untraced op $untracedS s"
    t.pause()
    t.write(s"${ctx.work}/trace/${CurateDocs.name}-${ctx.seed}.jsonl")
    lr.flush()
    res
  }
}
