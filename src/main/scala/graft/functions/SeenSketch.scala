package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.sketch.BloomFilter

/**
 * The URL-seen sketch (north-star: "bloom URL-seen filter"): the engine's
 * two-level MAIN/RECENT design needs probabilistic membership with NO false
 * negatives, a driver-side `put`, and an equal-sizing `mergeIn`. Backed by
 * Spark's BloomFilter; distributed build via `df.stat.bloomFilter`. The
 * crawl never expires a seen URL, so no delete is needed: retirement is a
 * rebuild. Serializes for `sc.broadcast` (executors get one copy per
 * rebuild, never per task closure).
 */
final class SeenSketch(val bf: BloomFilter) extends Serializable {
  def mightContain(s: String): Boolean = bf.mightContainString(s)
  def put(s: String): Unit = { bf.putString(s); () }
  /** Fold `other` (same sizing) into this sketch in place. */
  def mergeIn(other: SeenSketch): Unit = { bf.mergeInPlace(other.bf); () }
  /** Immutable deep copy for broadcasting while the master keeps mutating. */
  def frozenCopy(): SeenSketch = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(this); oos.close()
    new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray))
      .readObject().asInstanceOf[SeenSketch]
  }
}

object SeenSketch {

  /** Empty driver-side sketch of the requested kind (only `"bloom"`). */
  def create(kind: String, items: Long, fpp: Double): SeenSketch = kind match {
    case "bloom" => new SeenSketch(BloomFilter.create(items, fpp))
    case k => throw new IllegalArgumentException(s"unknown seen-sketch kind: $k")
  }

  /** Distributed build over a string column via Spark's native
    * `stat.bloomFilter` aggregate (internal tree merge): the column streams
    * once and only sketches move. */
  def build(df: DataFrame, column: String, items: Long, fpp: Double): SeenSketch =
    new SeenSketch(df.stat.bloomFilter(column, items, fpp))
}
