package graft.util

import scala.collection.concurrent.TrieMap
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Values kept resident per (session, dir) across gates — a cached frame
  * two gates share, a trained model, the TPC-H graph — under one lifecycle:
  *  - each key is built once, also under concurrent callers (a lazy cell
  *    per key, so a build may read another memo);
  *  - a build that throws leaves no entry, and the next call builds again;
  *  - every access drops the entries of stopped sessions, unreleased
  *    (their blocks died with the context);
  *  - [[reset]] releases every entry once and forgets it. A caller that
  *    sweeps Spark's storage pool must reset in the same breath, or the
  *    memos hand out frames and models whose blocks are gone. */
object Resident {
  final class Memo[V] private[Resident] (release: V => Unit) {
    private final class Cell(build: () => V) {
      lazy val value: Try[V] = Try(build())
    }
    private val cells = TrieMap.empty[(SparkSession, String), Cell]

    def apply(spark: SparkSession, dir: String)(build: => V): V = {
      memos.forEach(_.dropStopped())
      val key = (spark, dir)
      val cell = cells.getOrElseUpdate(key, new Cell(() => build))
      try cell.value.get
      catch { case e: Throwable => cells.remove(key, cell); throw e }
    }

    private[Resident] def dropStopped(): Unit =
      cells.keysIterator.filter(_._1.sparkContext.isStopped)
        .foreach(cells.remove)

    private[Resident] def releaseAll(): Unit =
      cells.foreach { case (key, cell) =>
        if (cells.remove(key, cell)) cell.value.foreach { v =>
          try release(v) catch { case NonFatal(_) => () }
        }
      }
  }

  private val memos = new java.util.concurrent.CopyOnWriteArrayList[Memo[_]]

  /** A memo keyed by (session, dir); `release` frees what a value holds. */
  def memo[V](release: V => Unit): Memo[V] = {
    val m = new Memo(release)
    memos.add(m)
    m
  }

  /** Release every entry of every memo once and forget it. */
  def reset(): Unit = memos.forEach(_.releaseAll())
}
