package graft.operators

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The shared lifecycle of a standing per-corpus artifact — the
  * persisted ingest state ([[DocPairsStore]], [[EmbPairsStore]],
  * [[TokenizerStore]], [[QuantizerStore]]) that is built once when a
  * corpus lands and then read by every consumer in every session, the
  * same standing-store philosophy as kadiyadb appending to an open store
  * instead of rebuilding it (kadiyadb's epoch/epoch.go).
  *
  *   - Layout: each artifact lives under
  *     `$java.io.tmpdir/graft_<store>/<sha1-16 of the corpus dir>/<key>`,
  *     where `key` names the variant (shingle width, banding shape, merge
  *     count, quantizer kind).
  *   - Fingerprint: row count + an order-independent sum of xxhash64 over
  *     the source table's (id, payload) columns. One narrow scan, paid
  *     once per (session, dir, key) open; it catches both regenerated ids
  *     and regenerated payloads under the same path.
  *   - `params.json`: `{"fp": "…", "algo_version": N, …}` followed by the
  *     store's own recorded shape values, written once after a build and
  *     parsed on every open like kadiyadb's params.json
  *     (database.go:127). The artifact is fresh only if
  *     the parsed key→value map equals the expected one, so a regenerated
  *     corpus, an algorithm change (a bumped `algo_version`) or any
  *     changed shape value rebuilds instead of serving stale state that
  *     would silently diverge from the oracle's replayed computation.
  *   - Lock: one monitor per artifact path serializes the
  *     validate-build-write critical section. `TrieMap.getOrElseUpdate`
  *     may run its builder concurrently on first access, and two threads
  *     overwriting the same path could expose a half-written artifact;
  *     the open memo above the lock stays lock-free for the hot path.
  *   - Memo: the (session, dir, key) open memo holds only disk-backed
  *     plans or driver-local rows — no cached blocks — so it is not
  *     registered with [[graft.core.SharedViews]] and a bench pass that
  *     reclaims shared views still pays only the read of persisted state
  *     (the one-time build runs outside any timed pass, as a production
  *     ingest would). `dropHandles` clears it (NOT the on-disk artifacts)
  *     to simulate a fresh session.
  *
  * @param store       directory suffix, `graft_<store>`
  * @param table       the [[graft.core.Tables]] source table
  * @param idCol       fingerprinted id column
  * @param payloadCol  fingerprinted payload column
  * @param algoVersion bumped when the build pipeline changes behavior
  */
final class CorpusArtifact[V](store: String, table: String, idCol: String,
    payloadCol: String, algoVersion: Int) {
  import CorpusArtifact._

  /** Times a build actually ran in this JVM — lets a spec prove consumers
    * build nothing once the artifact exists.
    */
  val builds = new AtomicLong(0)

  private val opened = TrieMap.empty[(SparkSession, String, String), V]

  def dropHandles(): Unit = opened.clear()

  /** The memoized value of artifact `key` over `dir`'s source table:
    * validate the persisted `params.json` against `params` (recorded after
    * `fp` and `algo_version`, in order), `build(source, base)` when stale,
    * then `read(base)`.
    */
  def open(s: SparkSession, dir: String, key: String, params: (String, Any)*)(
      build: (DataFrame, String) => Unit)(read: String => V): V =
    opened.getOrElseUpdate((s, dir, key), {
      val base = root(store, dir, key)
      pathLocks.getOrElseUpdate(base, new Object).synchronized {
        val paramPath = Paths.get(base, ParamFile)
        val src = graft.core.Tables.load(s, dir, table)
        val recorded = Seq("fp" -> fingerprint(src), "algo_version" -> algoVersion) ++ params
        // a missing or unparseable manifest is stale, like a changed value
        val fresh = Try(readParams(paramPath)).toOption
          .contains(recorded.map { case (k, v) => k -> v.toString }.toMap)
        if (!fresh) {
          builds.incrementAndGet()
          build(src, base)
          Files.createDirectories(Paths.get(base))
          Files.write(paramPath, recorded.map {
            case (k, v: String) => s""""$k": "$v""""
            case (k, v) => s""""$k": $v"""
          }.mkString("{", ", ", "}").getBytes(StandardCharsets.UTF_8))
        }
        read(base)
      }
    })

  private def fingerprint(d: DataFrame): String = {
    val r = d.agg(
      count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col(idCol), col(payloadCol))), lit(0L)).as("h")
    ).head()
    s"${r.getLong(0)}_${r.getLong(1)}"
  }
}

object CorpusArtifact {
  /** Name of the per-store manifest, like kadiyadb's params.json. */
  val ParamFile = "params.json"

  private val pathLocks = TrieMap.empty[String, Object]

  private val mapper = new ObjectMapper()

  private[graft] def root(store: String, dir: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(dir.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)
    s"${sys.props("java.io.tmpdir")}/graft_$store/$digest/$key"
  }

  /** A flat params.json as key → value text (numbers in their JSON
    * spelling, strings unquoted); throws on unparseable JSON.
    */
  private[graft] def readParams(p: Path): Map[String, String] =
    mapper.readTree(Files.readAllBytes(p)).properties().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
}
