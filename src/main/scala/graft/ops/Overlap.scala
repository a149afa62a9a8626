package graft.ops

/** Job overlap for independent driver-side legs: each leg is a
  * chain of Spark actions, and running the legs concurrently lets one leg's
  * straggling tail back-fill with another leg's tasks.
  *
  * Every leg runs on its own daemon thread created by the call. A thread
  * inherits a copy of its creator's Spark local properties (job group,
  * description, scheduler pool) only when it is created, so a long-lived
  * pool would hand a reused thread whatever properties it first captured;
  * per-call threads always carry the caller's current ones. */
object Overlap {

  /** Runs `legs` concurrently and returns their results in leg order. The
    * first leg failure (in leg order) is rethrown after every leg ended. */
  def all[T](name: String)(legs: (() => T)*): Seq[T] = {
    val results = new Array[Any](legs.size)
    val failures = new Array[Throwable](legs.size)
    val threads = legs.zipWithIndex.map { case (leg, i) =>
      val t = new Thread(() =>
        try results(i) = leg()
        catch { case e: Throwable => failures(i) = e }, s"graft-$name-$i")
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    failures.find(_ != null).foreach(e => throw e)
    results.toSeq.asInstanceOf[Seq[T]]
  }
}
