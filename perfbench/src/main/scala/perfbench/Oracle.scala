package perfbench

import org.apache.spark.sql.SparkSession

/** Brute-force cosine top-k over the store's own embeddings, outside Spark.
  * The cosine repeats graft's kernel step for step (float → double,
  * sequential sums, dot / (√na·√nb), 0 for a zero vector), so scores
  * compare exactly; ties break on ascending id, as in `Search.topK`.
  */
final class Oracle(ids: Array[Long], vecs: Array[Array[Float]]) {

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Top k of the documents with id <= `visible` (the store as it was
    * when the query ran: ids are appended in increasing order).
    */
  def topK(q: Array[Float], k: Int, visible: Long): Seq[(Long, Double)] = {
    val scored = ids.indices.iterator.filter(i => ids(i) <= visible)
      .map(i => (ids(i), cosine(vecs(i), q))).toArray
    scored.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
  }
}

object Oracle {
  /** Query vectors from the program's own embedder, in one job. */
  def embed(spark: SparkSession, texts: Seq[String], dim: Int): Map[String, Array[Float]] = {
    import spark.implicits._
    if (texts.isEmpty) Map.empty
    else graft.HashEmbedder.embed(texts.distinct.toDF("text"), "text", dim)
      .select("text", "embedding").as[(String, Array[Float])].collect().toMap
  }
}
