package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded corpus in the shape of the repository's sf1 documents table:
  * the sf0.1 `documents` table replicated by `graft.tools.ScaleGen`.
  *
  * Per-document shape, measured on the sf0.1 table (5,000 rows):
  *  - 10-99 words, uniform (each 10-word band holds 509-592 documents);
  *  - every word drawn uniformly from the 30-word [[Base]] vocabulary
  *    (each word is 3.26-3.39% of all tokens);
  *  - 5% near-duplicates (250 of 5,000): another document's text plus
  *    the token `dup`, copied from anywhere in the table, earlier or later;
  *  - language en 41%, zh 15%, es 15%, fr 15%, de 14%;
  *  - source `src<doc_id % 20>`, and `n_chars` the text's length.
  *
  * Replication, as ScaleGen does it: replica `r` shifts doc ids by
  * `r` × 1,000,000 and, for `r` > 0, suffixes every token with `r<r>`.
  * Each replica therefore has its own 30-token vocabulary, and dedup
  * pairs never cross replicas. Only the replica size differs from
  * ScaleGen (5,000): each workload chooses one that fits its run.
  *
  * Every document is a pure function of (seed, replica size, doc_id), so
  * a batch drawn later (the writer's appends) is the same whichever
  * batch size or thread draws it. */
object Corpus {
  val Base: Array[String] = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val MinWords = 10
  val MaxWords = 99
  val DupRate = 0.05
  val Sources = 20
  val ReplicaStride = 1000000L
  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val LangCum = Array(0.41, 0.56, 0.71, 0.86, 1.0)

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)

  private def rng(seed: Long, id: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 0xBF58476D1CE4E5B9L + salt))

  def id(replica: Int, j: Long): Long = replica * ReplicaStride + j

  private def suffix(replica: Long) = if (replica == 0) "" else s"r$replica"

  /** The words of a document before near-duplication, unsuffixed. */
  private def words(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, id, 1)
    Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(Base(r.nextInt(Base.length)))
  }

  def text(seed: Long, replicaDocs: Int, id: Long): String = {
    val replica = id / ReplicaStride
    val r = rng(seed, id, 2)
    val ws =
      if (replicaDocs > 1 && r.nextDouble() < DupRate) {
        val j = id % ReplicaStride
        val k = (j + 1 + r.nextInt(replicaDocs - 1)) % replicaDocs
        words(seed, replica * ReplicaStride + k) :+ "dup"
      } else words(seed, id)
    val sfx = suffix(replica)
    ws.map(_ + sfx).mkString(" ")
  }

  def doc(seed: Long, replicaDocs: Int, id: Long): Doc = {
    val u = rng(seed, id, 3).nextDouble()
    val t = text(seed, replicaDocs, id)
    Doc(id, t, Langs(LangCum.indexWhere(u < _)), s"src${id % Sources}", t.length.toLong)
  }

  /** The `n` documents that follow the first `from` of replicas
    * `first`, `first` + 1, … in doc-id order. */
  def docs(seed: Long, replicaDocs: Int, first: Int, from: Long, n: Int): Seq[Doc] =
    (from until from + n).map(i =>
      doc(seed, replicaDocs, id(first + (i / replicaDocs).toInt, i % replicaDocs)))

  def frame(spark: SparkSession, rows: Seq[Doc]): DataFrame =
    spark.createDataFrame(rows).repartition(math.max(1,
      spark.sparkContext.defaultParallelism))

  /** A document with unique seeded tokens, alone in its own source
    * folder, so a scoped search for its tokens finds exactly it once it
    * is visible. */
  def planted(seed: Long, id: Long, batch: Int): Doc = {
    val r = rng(seed, id, 4)
    val words = Array.fill(12)(s"pl${batch}x${r.nextInt(1000000)}") ++
      Array.fill(6)(Base(r.nextInt(Base.length)))
    val t = words.mkString(" ")
    Doc(id, t, "en", s"fresh$batch", t.length.toLong)
  }

  /** `n` query texts of three words, each drawn from a seeded document of
    * replicas 0 until `replicas`, so every query uses the store's own
    * vocabulary. */
  def queries(seed: Long, replicaDocs: Int, replicas: Int, n: Int, salt: Long): IndexedSeq[String] = {
    val r = rng(seed, salt, 5)
    IndexedSeq.fill(n) {
      val ws = text(seed, replicaDocs, id(r.nextInt(replicas), r.nextInt(replicaDocs))).split(" ")
      Seq.fill(3)(ws(r.nextInt(ws.length))).mkString(" ")
    }
  }

  /** Fingerprint of a documents table: rows plus an md5 over its rows in
    * doc-id order. `Bench` hashes the parquet file names and lengths
    * instead, but the files Spark writes carry a random id in their
    * names, so that hash would change on every run. */
  def fingerprint(docs: DataFrame): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val rows = docs.select("doc_id", "text", "lang", "source").orderBy("doc_id").collect()
    rows.foreach(r => md.update(r.mkString("\u0001").getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString.take(12))
  }
}
