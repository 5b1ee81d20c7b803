package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The planted differences between the drift source and target, by
  * generator row id. An edited row keeps its key and gets a quantity no
  * generated row has; each `dups` row appears in the target its source
  * copy plus `k` extra times.
  */
final case class Drift(deleted: Seq[Long], edited: Seq[Long], inserted: Seq[Long],
    dups: Seq[(Long, Int)])

/** A generated compare pair on disk, with the bag difference the planted
  * changes imply, computed from the generator's own rows.
  */
final case class LineitemPair(srcPath: String, tgtPath: String, srcRows: Long,
    tgtRows: Long, drift: Option[Drift], expectSrcOnly: Seq[Row], expectTgtOnly: Seq[Row])

final case class Corpus(path: String, plantedPii: Seq[String])

/** Seeded input generator. Every value is a hash of (seed, row id, column),
  * so one seed always gives the same rows; no file of the repository is
  * read.
  */
object Gen {

  /** Lineitem-shaped rows (the TPC-H columns of the sf0.1 fixture) for the
    * ids of `ids`, which must hold a long column `id`. Key
    * (l_orderkey, l_linenumber) is unique per id, so no two rows are equal.
    */
  def lineitem(ids: DataFrame, seed: Long): DataFrame = {
    def h(i: Int): Column = xxhash64(col("id"), lit(seed), lit(i))
    def u(i: Int, m: Long): Column = pmod(h(i), lit(m))
    ids.select(
      col("id"),
      (col("id").divide(7).cast("long") * 4 + 1).as("l_orderkey"),
      (u(1, 200000L) + 1).as("l_partkey"),
      (u(2, 10000L) + 1).as("l_suppkey"),
      (pmod(col("id"), lit(7L)) + 1).cast("int").as("l_linenumber"),
      (u(3, 50L) + 1).cast("double").as("l_quantity"),
      (u(4, 10000000L).cast("double") / 100.0).as("l_extendedprice"),
      (u(5, 11L).cast("double") / 100.0).as("l_discount"),
      (u(6, 9L).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")), (u(7, 3L) + 1).cast("int"))
        .as("l_returnflag"),
      element_at(array(lit("F"), lit("O")), (u(8, 2L) + 1).cast("int"))
        .as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(9, 2500L) * 86400L).as("l_shipdate"))
  }

  /** Row ids for each kind of planted change, distinct and drawn from the
    * seed: `perKind` deletions, edits and rows with extra copies (two or
    * three extra each), and `perKind` inserted rows with new ids.
    */
  def drift(rows: Long, seed: Long, perKind: Int): Drift = {
    val rnd = new scala.util.Random(seed)
    val picked = Iterator.continually((rnd.nextLong() & Long.MaxValue) % rows)
      .distinct.take(3 * perKind).toIndexedSeq
    val (del, rest) = picked.splitAt(perKind)
    val (ed, dup) = rest.splitAt(perKind)
    Drift(del, ed, (0 until perKind).map(rows + _),
      dup.zipWithIndex.map { case (id, i) => (id, 2 + i % 2) })
  }

  private def editQuantity(df: DataFrame): DataFrame =
    df.withColumn("l_quantity", (col("id") % 100000L + 1000L).cast("double"))

  /** Writes the source (8 files, id order) and a target holding the same
    * bag in 5 files in hashed order; with `drift`, the target carries the
    * planted changes instead. Returns the expected orphans per side.
    */
  def lineitemPair(spark: SparkSession, dir: String, rows: Long, seed: Long,
      drift: Option[Drift]): LineitemPair = {
    // cached: the source write, the target and the expected orphans all
    // read it
    val base = lineitem(spark.range(0L, rows, 1L, 8).toDF("id"), seed).cache()
    val (tgt, srcOnly, tgtOnly) = drift match {
      case None => (base, spark.emptyDataFrame, spark.emptyDataFrame)
      case Some(d) =>
        val gone = d.deleted ++ d.edited
        val edited = editQuantity(base.where(col("id").isin(d.edited: _*)))
        val inserted = lineitem(
          spark.range(rows, rows + d.inserted.size).toDF("id"), seed)
        val copies = d.dups.flatMap { case (id, k) => Seq.fill(k)(id) }
        val extra = base.join(
          spark.createDataFrame(copies.map(Tuple1(_))).toDF("id"), "id")
        val t = base.where(!col("id").isin(gone: _*))
          .unionByName(edited).unionByName(inserted).unionByName(extra)
        (t, base.where(col("id").isin(gone: _*)),
          edited.unionByName(inserted).unionByName(extra))
    }
    val srcPath = s"$dir/source"
    val tgtPath = s"$dir/target"
    base.drop("id").write.mode("overwrite").parquet(srcPath)
    tgt.repartition(5, xxhash64(col("id"), lit(seed + 1)))
      .sortWithinPartitions(xxhash64(col("id"), lit(seed + 2)))
      .drop("id").write.mode("overwrite").parquet(tgtPath)
    def rowsOf(df: DataFrame): Seq[Row] =
      if (df.columns.isEmpty) Nil else df.drop("id").collect().toSeq
    val d = drift.getOrElse(Drift(Nil, Nil, Nil, Nil))
    val pair = LineitemPair(srcPath, tgtPath, rows,
      rows - d.deleted.size + d.inserted.size + d.dups.map(_._2).sum,
      drift, rowsOf(srcOnly), rowsOf(tgtOnly))
    base.unpersist(blocking = true)
    pair
  }

  /** Synthetic vocabulary: `n` distinct lower-case words of 3 to 8 letters,
    * with the English stopwords the language filter looks for.
    */
  private def vocabulary(rnd: scala.util.Random, n: Int): IndexedSeq[String] = {
    val words = Iterator.continually {
      val len = 3 + rnd.nextInt(6)
      (1 to len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct.take(n).toIndexedSeq
    Seq("the", "a", "and", "of", "is").toIndexedSeq ++ words
  }

  /** A document corpus (doc_id, text, lang, source, n_chars) of `docs`
    * rows over 16 sources, one of them five times the others' size.
    * Planted: exact copies of earlier documents, near copies (one word
    * changed), plain e-mail addresses and IPv4 addresses, decomposed
    * accents (NFD), and short garbled documents that the quality filters
    * drop.
    */
  def corpus(spark: SparkSession, dir: String, docs: Int, seed: Long): Corpus = {
    val rnd = new scala.util.Random(seed)
    val vocab = vocabulary(rnd, 400)
    val texts = new Array[String](docs)
    val decomposed = java.text.Normalizer.normalize(
      "caf\u00e9 r\u00e9sum\u00e9", java.text.Normalizer.Form.NFD)
    val pii = scala.collection.mutable.ArrayBuffer[String]()
    def fresh(): String = {
      val n = 30 + rnd.nextInt(60)
      val ws = Array.fill(n)(vocab(rnd.nextInt(vocab.size)))
      ws(rnd.nextInt(n)) = "the"
      ws.mkString(" ")
    }
    // the planted kinds sit at fixed positions, so every seed gives the same
    // duplicate clusters and source sizes; only the words change
    for (i <- 0 until docs) {
      texts(i) = i % 50 match {
        case 7 => texts(i - 7)
        case 19 =>
          val ws = texts(i - 19).split(" ")
          ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.size))
          ws.mkString(" ")
        case 23 =>
          val e = s"user${rnd.nextInt(1000000)}.p$i@mail${i % 7}.example.com"
          pii += e; s"${fresh()} contact $e today"
        case 31 =>
          val ip = s"10.${i % 250}.${rnd.nextInt(250)}.${rnd.nextInt(250)}"
          pii += ip; s"${fresh()} host $ip is up"
        case 37 => s"${fresh()} $decomposed the"
        case 41 => Array.fill(6)(rnd.alphanumeric.take(12).mkString).mkString(" ")
        case _ => fresh()
      }
    }
    import spark.implicits._
    val rows = texts.toSeq.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", s"src${if (i % 4 == 0) 0 else i % 20}", t.length.toLong)
    }
    val path = s"$dir/corpus"
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(path)
    Corpus(path, pii.toSeq)
  }
}
