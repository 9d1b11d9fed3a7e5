package graft.ops

/** Runs independent blocks of driver code at once, so their Spark jobs
  * share the executor slots instead of queueing one after another: a
  * job of a few single-task stages leaves most cores idle.
  *
  * Each block gets a fresh thread, started inside the call. Spark's
  * local properties (the job group, the scheduler pool) pass to a
  * thread only when it is created, so a fresh thread charges its jobs
  * to the caller's job group, where [[QueryProfile]] counts them; a
  * pooled thread would keep the group of whoever created it. */
object Concurrently {

  /** Runs every body on its own thread, waits for all of them and
    * returns their results in order. If any body throws, the first
    * failure (in body order) is rethrown once all have ended, with the
    * other failures attached as suppressed. */
  def all[T](bodies: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](bodies.size)
    val failures = new Array[Throwable](bodies.size)
    val threads = bodies.zipWithIndex.map { case (body, i) =>
      val t = new Thread(() =>
        try results(i) = body()
        catch { case e: Throwable => failures(i) = e },
        s"graft-concurrently-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.filter(_ != null).toList match {
      case Nil => results.toSeq.asInstanceOf[Seq[T]]
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
    }
  }
}
