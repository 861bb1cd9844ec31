package perfbench

import scala.io.Source
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}

/** The generated corpus of curate_batch and index_ingest and its
  * planted truth, read from the files gen_inputs.py wrote. */
final class Corpus(spark: SparkSession, dir: String) {
  val truth = new KeyValues(s"$dir/truth.txt")
  val nDocs: Long = truth.long("docs")

  private def lines(name: String): Vector[String] = {
    val src = Source.fromFile(s"$dir/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector finally src.close()
  }

  /** Planted families as sorted id lists, with their kind (exact|near). */
  val families: Vector[(String, Vector[Long])] = lines("families.txt").map { l =>
    val Array(kind, ids) = l.split('\t')
    kind -> ids.split(',').map(_.toLong).toVector
  }
  /** Every within-family pair (a < b): the near-duplicate truth. */
  val plantedPairs: Set[(Long, Long)] = families.iterator.flatMap { case (_, ids) =>
    for (i <- ids.indices.iterator; j <- (i + 1 until ids.length).iterator) yield (ids(i), ids(j))
  }.toSet
  val titles: Vector[String] = lines("titles.txt")
  val queries: Vector[(Long, Seq[String])] = lines("queries.txt").map { l =>
    val Array(q, terms) = l.split('\t')
    q.toLong -> terms.split(' ').toSeq
  }
  val probes: Vector[(Long, Int, Array[Double])] = lines("probes.txt").map { l =>
    val Array(q, c, v) = l.split('\t')
    (q.toLong, c.toInt, v.split(',').map(_.toDouble))
  }

  /** Read lazily: every call plans from the parquet file. */
  val docs: DataFrame = spark.read.parquet(s"$dir/documents.parquet")
  val embeddings: DataFrame = spark.read.parquet(s"$dir/embeddings.parquet")
  def queriesDF: DataFrame = spark.createDataFrame(queries).toDF("query_id", "terms")

  /** Force `df` through the noop sink; the observed aggregates ride the
    * same job, so checking them costs no extra Spark job. */
  def noopObserved(df: DataFrame, metrics: Column*): Map[String, Any] = {
    val obs = Observation()
    df.observe(obs, metrics.head, metrics.tail: _*).write.format("noop").mode("overwrite").save()
    obs.get
  }
}

object Corpus {
  /** Levenshtein distance, for checking edit-join output on the driver. */
  def levenshtein(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(sub, math.min(prev(j) + 1, cur(j - 1) + 1))
      }
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  def pairs(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long)] =
    rows.map { r => val a = r.getLong(0); val b = r.getLong(1); (math.min(a, b), math.max(a, b)) }.toSet
}
