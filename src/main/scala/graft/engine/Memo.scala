package graft.engine

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** A JVM-lifetime get-or-build memo, keyed by a corpus identity
  * ([[CorpusId]]) and a tag naming the artifact and its parameters.
  * Each module that shares an artifact across queries keeps one.
  *
  *  - One build per key: concurrent callers of one key wait for the
  *    first caller's build and get its value. A losing racer's build
  *    would leak, e.g. a checkpoint in executor storage.
  *  - No build holds the map's lock: `computeIfAbsent` only inserts a
  *    cheap cell, and the build runs under that cell's own lock, so a
  *    long build of one key does not block another key.
  *  - A build may build another key (nested builds must not form a
  *    cycle).
  *  - A build that throws caches nothing; the next call builds again.
  *  - A corpus without an identity (`id` None) is built every call and
  *    never cached.
  */
final class Memo[V] {
  private final class Cell { @volatile var value: Option[V] = None }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  def apply(id: Option[String], tag: String)(build: => V): V = id match {
    case None => build
    case Some(i) =>
      val cell = cells.computeIfAbsent((i, tag), _ => new Cell)
      cell.synchronized {
        cell.value.getOrElse {
          val v = build
          cell.value = Some(v)
          v
        }
      }
  }

  def contains(id: Option[String], tag: String): Boolean =
    id.exists(i => Option(cells.get((i, tag))).exists(_.value.isDefined))

  /** Entries holding a value. */
  def size: Int = cells.values.asScala.count(_.value.isDefined)

  def clear(): Unit = cells.clear()
}
