package graft.sqlfront

import scala.collection.concurrent.TrieMap

/** The dialect layer's metadata for one session table. The reference
  * keeps a table's metadata in one object (IStorage); here it is spread
  * over JVM-wide maps keyed by the table's name, one per concern
  * (engine, defaults, DDL tail, data parts, ...). Every such map is
  * declared through `perTable`, so DROP, RENAME and the session reset
  * carry all of them without naming any. Sets are maps to `Unit`. */
private[sqlfront] object TableMeta {
  private var maps = Vector.empty[TrieMap[String, Any]]

  /** A new table-keyed map, registered for `forget`, `move` and
    * `clearAll`. */
  def perTable[V](): TrieMap[String, V] = synchronized {
    val m = TrieMap.empty[String, V]
    maps :+= m.asInstanceOf[TrieMap[String, Any]]
    m
  }

  private def all: Vector[TrieMap[String, Any]] = synchronized(maps)

  /** DROP TABLE: the table's entry leaves every map. */
  def forget(name: String): Unit = all.foreach(_.remove(name))

  /** CREATE TABLE ... AS: `to`'s entry in `m` becomes `from`'s, or goes
    * when `from` has none. */
  def copyEntry[V](m: TrieMap[String, V], from: String, to: String): Unit =
    m.get(from) match {
      case Some(v) => m.put(to, v)
      case None => m.remove(to)
    }

  /** RENAME TABLE: afterwards `to` has exactly what `from` had in every
    * map, and `from` has nothing. */
  def move(from: String, to: String): Unit = all.foreach { m =>
    m.remove(from) match {
      case Some(v) => m.put(to, v)
      case None => m.remove(to)
    }
  }

  /** Session reset: every map empties. */
  def clearAll(): Unit = all.foreach(_.clear())
}
