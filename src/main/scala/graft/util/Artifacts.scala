package graft.util

import org.apache.spark.sql.SparkSession

/** The session's corpus-snapshot artifacts: staged stream sources, the
  * shared LSH index, quantizer fits, dedup pair and cluster tables, the
  * incremental-maintenance base, decoded video frames and the skipping
  * lakes. Each is immutable once built and identical for every consumer
  * of the same (corpus, parameters), so it is built once per session and
  * handed to every later caller.
  *
  * A key is `kind | applicationId | dir | params`. `kind` names the call
  * site, and every site has its own: several sites share a key shape
  * (the cluster table and the incremental base both key on the dedup
  * parameters; the frame table and both skipping lakes on the directory
  * alone), and without it they would hand each other the wrong artifact.
  * The application id keeps sessions apart.
  *
  * The key is the directory PATH, not its content: after an in-session
  * rewrite of a corpus at the same path, call [[clear]], or the stale
  * artifact keeps answering. Clearing is safe while readers run: they
  * keep the frames and paths they hold; only the memo's references go.
  */
object Artifacts {

  /** Above the most distinct keys one session makes, so nothing is ever
    * evicted in normal use: a full `Tool verify` at sf0.1 (all 231 gates
    * in one JVM) makes 13, and `SparkEntry.prestage` plus passes over
    * the nine `perfbench` gates make 5, all in prestage. 32 holds two
    * corpora's full sets. Past the bound the least-recently used
    * artifact goes (one rebuild at a time, never a flush); a dropped
    * frame's checkpoint blocks are reclaimed once unreferenced.
    */
  private val MaxEntries = 32

  private val memo = new LruMemo[String, AnyRef](MaxEntries)

  /** The artifact of `kind` for (`dir`, `params`) in this session, built
    * by `build` on first use. `build` runs outside the memo's lock, since
    * most builds are multi-stage Spark jobs; two racing first callers
    * may both build, and the second to publish gets the first's artifact
    * back (the loser's scratch directory goes with the scratch root, its
    * checkpoint blocks with its frame).
    */
  def shared[V <: AnyRef](spark: SparkSession, kind: String, dir: String,
      params: Any*)(build: => V): V = {
    val key = (Seq(kind, spark.sparkContext.applicationId, dir) ++ params)
      .mkString("|")
    memo.get(key).getOrElse(memo.putIfAbsent(key, build)).asInstanceOf[V]
  }

  /** Drop every artifact (after a corpus rewrite, or between tenants). */
  def clear(): Unit = memo.clear()
}
