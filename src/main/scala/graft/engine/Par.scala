package graft.engine

/** Overlap independent Spark actions from the driver (guide §2.6):
  * Spark's scheduler happily runs several jobs at once inside one
  * application — the at-rest index lifecycles (dedup pairs/prefix/
  * clusters, knn edges/cells) issue 2–3 INDEPENDENT writes and an
  * iterative CC fixpoint strictly sequentially, so each action's tail
  * leaves most cores idle while the next waits on the driver. r20
  * profiling: the lifecycle queries' wall is dominated by serial
  * sequencing of ~30–60 small jobs (x121: 46 jobs, job-sum 4.6 s, but
  * ~6 s wall).
  *
  * `all` runs each branch on a fresh daemon thread started by the
  * caller, so every branch inherits the caller's CURRENT Spark local
  * properties (job group, job description, scheduler pool) — a pooled
  * thread would keep the ones captured when it was first created. It
  * waits for EVERY branch before returning — even when one fails — so
  * a crashed branch can never leave a sibling racing a follow-up
  * rebuild's overwrite; the first failure (in branch order) is then
  * rethrown with the others attached as suppressed exceptions (the
  * at-rest stamp protocols treat any throw inside a stampless mutation
  * window as "rebuild on next entry"). Branches must be independent:
  * no shared session-conf windows, no write targets in common.
  */
object Par {

  def all(tasks: (() => Unit)*): Unit = {
    if (tasks.size <= 1) { tasks.foreach(_()); return }
    val failures = new Array[Throwable](tasks.size)
    val threads = tasks.zipWithIndex.map { case (t, i) =>
      val th = new Thread(() =>
        try t() catch { case e: Throwable => failures(i) = e },
        s"graft-par-$i")
      th.setDaemon(true)
      th.start()
      th
    }
    // join is the happens-before edge that publishes `failures`
    threads.foreach(_.join())
    failures.filter(_ != null).toList match {
      case first :: rest =>
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case Nil => ()
    }
  }
}
