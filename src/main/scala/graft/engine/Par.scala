package graft.engine

/** Overlap independent Spark actions from the driver (guide §2.6):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — the at-rest index lifecycles (dedup pairs/prefix/
  * clusters, knn edges/cells) issue 2–3 INDEPENDENT writes and an
  * iterative CC fixpoint strictly sequentially, so each action's tail
  * leaves most cores idle while the next waits on the driver. r20
  * profiling: the lifecycle queries' wall is dominated by serial
  * sequencing of ~30–60 small jobs (x121: 46 jobs, job-sum 4.6 s, but
  * ~6 s wall). `graft.fhir.FhirMain.run` drives its phase graph (dim
  * reads beside the bundle scan's planning, the resource write beside
  * rawstat and the three fact rollups) through [[both]] and [[all]].
  *
  * Every branch runs on a fresh daemon thread started by the caller,
  * so every branch inherits the caller's CURRENT Spark local properties
  * (job group, job description, scheduler pool) — a pooled thread
  * would keep the ones captured when it was first created. A call
  * waits for EVERY branch before returning — even when one fails — so
  * a crashed branch can never leave a sibling racing a follow-up
  * rebuild's overwrite; the first failure (in branch order) is then
  * rethrown with the others attached as suppressed exceptions (the
  * at-rest stamp protocols treat any throw inside a stampless mutation
  * window as "rebuild on next entry"). Branches must be independent:
  * no shared session-conf windows, no write targets in common.
  */
object Par {

  def all(tasks: (() => Unit)*): Unit = { results(tasks); () }

  /** Two branches of different result types, run like [[all]]. */
  def both[A, B](a: () => A, b: () => B): (A, B) = {
    val Seq(x, y) = results(Seq(a, b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** Each branch's result, in branch order. */
  private def results(tasks: Seq[() => Any]): Seq[Any] = {
    if (tasks.size <= 1) return tasks.map(_())
    val outcomes = new Array[Either[Throwable, Any]](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        outcomes(i) =
          try Right(t()) catch { case e: Throwable => Left(e) },
        s"graft-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    // join is the happens-before edge that publishes `outcomes`
    threads.foreach(_.join())
    outcomes.collect { case Left(e) => e }.toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => outcomes.toSeq.map(_.toOption.get)
    }
  }
}
