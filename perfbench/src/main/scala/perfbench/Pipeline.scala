package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{CocoFn, Flow, Source, Target}
import graft.functions.HashEmbedder
import graft.operators.Chunker

/** The split → embed pipeline of the reference's text_embedding
  * example, and its driver-side oracle. */
object Pipeline {
  val ChunkSize = 1000
  val Overlap = 100
  val Dim = 64

  def stages(text: Column): Seq[CocoFn] = {
    val split = CocoFn("split", 1,
      deps = Seq(s"chunk=$ChunkSize", s"overlap=$Overlap"), fn = df => {
        val chunk = Chunker.chunkRefUdf(ChunkSize, None, Some(Overlap))
        df.select(col("item_key"), explode(chunk(text)).as("c"))
          .select(col("item_key"),
            concat(col("item_key"), lit("#"), col("c.chunk_id")).as("row_key"),
            col("c.text").as("text"))
      })
    val embed = CocoFn("embed", 1, deps = Seq(s"dim=$Dim"), fn = df =>
      df.withColumn("embedding", HashEmbedder.embed(col("text"), Dim)))
    Seq(split, embed)
  }

  def flow(name: String, source: Source, stages: Seq[CocoFn], target: Target,
      stateDir: String, tr: Tracer): Flow =
    new Flow(name, source, stages.map(Traced.stage(_, tr)), target, stateDir,
      rowKeyOwnedByItem = true)

  /** Transform(doc) computed on the driver: row_key → (text, vector). */
  def expected(key: String, text: String)
      : Iterator[(String, (String, Seq[Float]))] =
    Chunker.RecursiveMerge.split(text, ChunkSize, None, Some(Overlap))
      .iterator.map { c =>
        s"$key#${c.chunk_id}" ->
          (c.text, HashEmbedder.embedOne(c.text, Dim).toSeq)
      }

  /** Rows of a target read back, keyed by row_key. */
  def actual(df: DataFrame): Map[String, (String, Seq[Float])] =
    df.select("row_key", "text", "embedding").collect().iterator.map { r =>
      val v: Seq[Float] = r.get(2) match {
        case s: scala.collection.Seq[_] => s.map {
          case f: Float => f
          case d: Double => d.toFloat
          case x => x.toString.toFloat
        }.toSeq
        case s: String =>
          s.stripPrefix("[").stripSuffix("]").split(",").toSeq
            .filter(_.nonEmpty).map(_.trim.toFloat)
        case null => Nil
        case x => sys.error(s"unexpected embedding value ${x.getClass}")
      }
      r.getString(0) -> (r.getString(1), v)
    }.toMap

  /** Items whose rows differ between `want` and `got`; rows are
    * grouped by the item key before the '#'. */
  def diffItems(want: Map[String, (String, Seq[Float])],
      got: Map[String, (String, Seq[Float])]): Set[String] = {
    def item(k: String) = k.substring(0, k.lastIndexOf('#'))
    def close(a: Seq[Float], b: Seq[Float]) =
      a.length == b.length && a.zip(b).forall { case (x, y) =>
        math.abs(x - y) <= 1e-6f }
    val keys = want.keySet ++ got.keySet
    keys.iterator.filter { k =>
      (want.get(k), got.get(k)) match {
        case (Some((t1, v1)), Some((t2, v2))) => t1 != t2 || !close(v1, v2)
        case _ => true
      }
    }.map(item).toSet
  }
}
