package graft

import java.util.concurrent.ConcurrentHashMap

/** Once-per-JVM staging of gate fixtures (catalog indexes, landing dirs,
  * trained centroids, embedded databases): the one place a fixture's
  * "build it once, then reuse it" rule lives.
  *
  *   - a key's body runs at most once per JVM and its value is reused;
  *   - a concurrent caller of the same key waits for that run;
  *   - other keys are not blocked (one lock object per key);
  *   - a body may stage another key (the locks nest; a single
  *     `computeIfAbsent` map cannot, it throws "Recursive update");
  *   - a body that throws is not remembered, so the next call runs it
  *     again.
  *
  * Keys share one namespace, so callers prefix them with their fixture
  * kind. */
object Staging {
  private val locks = new ConcurrentHashMap[String, AnyRef]()
  private val done = new ConcurrentHashMap[String, Some[Any]]()

  /** The per-key lock [[once]] holds while a body runs. Staging whose
    * proof of completion lives outside the JVM (a filesystem marker)
    * checks that proof under this lock instead of memoizing. */
  def lock(key: String): AnyRef = locks.computeIfAbsent(key, _ => new Object)

  def once[A](key: String)(body: => A): A = {
    val hit = done.get(key)
    if (hit != null) hit.value.asInstanceOf[A]
    else lock(key).synchronized {
      val again = done.get(key)
      if (again != null) again.value.asInstanceOf[A]
      else {
        val v = body
        done.put(key, Some(v))
        v
      }
    }
  }
}
