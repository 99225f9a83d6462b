package graft.operators

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.{ShardedBloomContains, ShardedBloomHolder}
import graft.streaming.VersionedParquetStore

/** Persisted, incrementally-merged, SHARDED bloom sketch — the
  * seen-hash artifact behind [[Dedup.incrementalExactBloomFromStore]]'s
  * scan-side exact-dedup gate.
  *
  * The per-snapshot form ([[Dedup.incrementalExactBloom]]) re-aggregates
  * the ENTIRE seen corpus into a fresh filter every time the corpus
  * advances — at 10⁹ docs that is a full corpus scan + sketch
  * aggregation repeated per snapshot, forever. Here the sketch is a
  * maintained store: each ACCEPTED batch builds its own filter from its
  * own keys only (one distributed pass over the BATCH — a groupByKey on
  * the shard nibbles, one compatible-capacity filter per shard task)
  * and ORs it into the current sketch (`mergeInPlace`, bit-identical to
  * a from-scratch build over the union — BloomStoreSpec pins the byte
  * equality). Publish is [[graft.streaming.VersionedParquetStore]]'s
  * version-publish: serialized shards land in a fresh version dir,
  * the pointer flips, a replayed foreachBatch batchId is a no-op.
  *
  * Sharding (per first-two-hex-nibble prefix) bounds the probe-side
  * object: the gate expression holds a Broadcast of the shard byte
  * arrays (shipped once per executor, never per task closure) and
  * deserializes only the shards a task actually probes — the per-task
  * working set is sketch/nShards. At 10⁹ keys @ 1% fpp the monolithic
  * filter is ~1.2 GB; 256 shards keep each under ~5 MB.
  *
  * False negatives cannot exist (bloom property, preserved by OR-merge),
  * so a gate miss is PROOF the key is new — the exactness of the dedup
  * output never depends on fpp (false positives die in the confirm
  * join). A batch must only merge once (the batchId guard handles
  * streaming replays); keys are lowercase-hex digests (md5 output).
  *
  * Restart: a new JVM over the same `dir` ADOPTS the committed
  * version's shards (and its persisted last-batch replay guard) —
  * without adoption every pre-restart key would gate definite-new and
  * its duplicate would silently ship, the one failure mode the
  * no-false-negative contract forbids. BloomStoreSpec pins adoption,
  * replay-guard survival, and merge-after-restart byte equality.
  */
final class BloomStore(dir: String, expectedItems: Long,
    fpp: Double = 0.01, nShards: Int = 16)
    extends graft.streaming.ReplayGuarded {

  def this(expectedItems: Long) =
    this(Files.createTempDirectory("graft-bloom-store").toString, expectedItems)

  require(nShards >= 1 && nShards <= 256,
    s"nShards must be in [1, 256] (the shard is a two-nibble prefix), got $nShards")
  require(expectedItems > 0, s"expectedItems must be positive, got $expectedItems")

  private val perShardCapacity: Long = math.max(1L, expectedItems / nShards)

  private val store = new VersionedParquetStore(dir)
  // (serialized shards, gate holder) — immutable once published; the
  // holder's Broadcast re-ships per publish, replacing the previous
  @volatile private var published: Option[(Array[Array[Byte]], ShardedBloomHolder)] = None
  // the superseded generation's Broadcast: kept alive one publish for
  // holders still riding in-flight plans, unpersisted when the NEXT
  // publish retires it — without this, every merge at the design point
  // (~1.2 GB sketch) pins another generation on the executors until
  // driver GC happens to notice
  private var graceBc: Option[org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]]] = None
  // shards adopted from a previous JVM's committed version (the
  // restart path — a persisted sketch that vanished on restart would
  // silently break the no-false-negative contract: every pre-restart
  // key would gate as definite-new and its duplicate would ship).
  // Bytes only: the gate's Broadcast needs a SparkContext, which the
  // constructor doesn't have — materialized lazily on first use.
  @volatile private var adopted: Option[Array[Array[Byte]]] =
    store.current.map(loadShards)

  private def loadShards(vdir: String): Array[Array[Byte]] = {
    val files = (0 until nShards).map(i => Paths.get(vdir, s"shard-$i.bloom"))
    files.foreach(p => require(Files.exists(p),
      s"bloom store at $dir committed version is missing ${p.getFileName} — " +
        s"was the artifact written with fewer shards than nShards=$nShards? " +
        "Probing a differently-sharded sketch would produce false " +
        "negatives (silent duplicate leaks)"))
    require(!Files.exists(Paths.get(vdir, s"shard-$nShards.bloom")),
      s"bloom store at $dir was written with more than nShards=$nShards " +
        "shards — refusing to probe a differently-sharded sketch")
    files.map(Files.readAllBytes).toArray
  }

  // the current sketch bytes regardless of which JVM built them
  private def currentBytes: Option[Array[Array[Byte]]] =
    published.map(_._1).orElse(adopted)

  // materialize the adopted sketch's gate holder on first use (needs a
  // live SparkContext for the Broadcast)
  private def ensureAdoptedHolder(): Unit =
    if (published.isEmpty && adopted.nonEmpty) synchronized {
      if (published.isEmpty) adopted.foreach { bytes =>
        val spark = org.apache.spark.sql.SparkSession.active
        published = Some((bytes,
          new ShardedBloomHolder(spark.sparkContext.broadcast(bytes))))
      }
    }

  /** True when `batchId` was already merged — [[merge]] would no-op. */
  def isReplay(batchId: Long): Boolean = store.isReplay(batchId)

  /** Serialized shard sizes (empty before the first merge) — constant
    * across merges by construction (capacity-sized bit arrays), the
    * size pin BloomStoreSpec asserts. */
  def shardByteSizes: Seq[Int] =
    currentBytes.map(_.map(_.length).toSeq).getOrElse(Nil)

  /** The published serialized shards — BloomStoreSpec pins the
    * incremental merge bit-identical to a from-scratch build. */
  private[graft] def shardBytes: Seq[Array[Byte]] =
    currentBytes.map(_.toSeq).getOrElse(Nil)

  /** Merge one accepted batch's key digests (string column `keyCol`,
    * lowercase hex, nulls ignored): one distributed pass over the
    * batch builds per-shard filters, the driver ORs them into the
    * current sketch and publishes the new version. Cost is
    * O(|batch|) scan + O(sketch bits) OR — never a corpus pass. */
  def merge(batchKeys: DataFrame, keyCol: String,
      batchId: Long = VersionedParquetStore.NoBatchId): Unit = synchronized {
    if (store.isReplay(batchId)) return
    val spark = batchKeys.sparkSession
    import spark.implicits._
    val cap = perShardCapacity
    val p = fpp
    val ns = nShards
    val batchShards: Array[(Int, Array[Byte])] = batchKeys
      .select(col(keyCol).cast("string").as("k"))
      .na.drop().as[String]
      .groupByKey(k => ShardedBloomHolder.shardOfHex(k, ns))
      .mapGroups { (s, keys) =>
        val bf = BloomFilter.create(cap, p)
        keys.foreach(k => bf.putBinary(k.getBytes(StandardCharsets.UTF_8)))
        (s, BloomStore.serialize(bf))
      }.collect()
    var nextBytes: Array[Array[Byte]] = null
    val applied = store.publish(batchId) { nextDir =>
      // copy-then-OR: the published shards stay immutable for readers.
      // The base is whatever generation is current — this JVM's
      // published sketch, or one adopted from a previous JVM's version
      // dir (a capacity-drifted adopted artifact fails loudly in
      // mergeInPlace's compatibility check)
      val base: Array[BloomFilter] = currentBytes match {
        case Some(bytes) =>
          bytes.map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))
        case None => Array.fill(ns)(BloomFilter.create(cap, p))
      }
      batchShards.foreach { case (s, b) =>
        base(s).mergeInPlace(BloomFilter.readFrom(new ByteArrayInputStream(b)))
      }
      nextBytes = base.map(BloomStore.serialize)
      Files.createDirectories(Paths.get(nextDir))
      nextBytes.zipWithIndex.foreach { case (b, i) =>
        Files.write(Paths.get(nextDir, s"shard-$i.bloom"), b)
      }
    }
    if (applied) {
      val bc = spark.sparkContext.broadcast(nextBytes)
      // retire the N-2 generation (nothing can still probe it — plans
      // built since the previous publish hold that generation's holder)
      graceBc.foreach(_.unpersist(blocking = false))
      graceBc = published.map(_._2.handle)
      published = Some((nextBytes, new ShardedBloomHolder(bc)))
      adopted = None
    }
  }

  /** The scan-side sharded membership gate over the CURRENT sketch —
    * this JVM's published generation, or the artifact adopted from a
    * previous JVM's committed version (restart). Before the first
    * merge ever, every key is definite-new: literal false. */
  def mightContain(c: Column): Column = {
    ensureAdoptedHolder()
    published match {
      case Some((_, holder)) => ShardedBloomContains(c, holder)
      case None => lit(false)
    }
  }
}

private[graft] object BloomStore {
  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }
}
