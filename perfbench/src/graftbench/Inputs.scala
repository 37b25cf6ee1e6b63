package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TextOps
import graft.sources.{SynthDocs, SynthDocsSource}

/** Seeded input generator. Every value is a pure function of
  * (seed, row key), so the same seed gives the same tables at any
  * parallelism. Larger inputs follow the `grown(k)` pattern of
  * graft.ScaleProbe: k key-shifted copies of a base table. */
object Inputs {
  private def h(seed: Long, salt: Int, cs: Column*): Column =
    xxhash64(lit(seed) +: lit(salt) +: cs: _*)
  /** Uniform long in [0, n). */
  def below(seed: Long, salt: Int, n: Long, cs: Column*): Column = pmod(h(seed, salt, cs: _*), lit(n))
  /** Uniform double in [0, 1). */
  def unit(seed: Long, salt: Int, cs: Column*): Column =
    below(seed, salt, 1L << 40, cs: _*).cast("double") / lit((1L << 40).toDouble)

  def write(df: DataFrame, dir: String, name: String): Unit =
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

  /** `k` copies of `df` with `key` shifted by i·span in copy i. */
  def grown(df: DataFrame, k: Int, key: String, span: Long): DataFrame =
    (0 until k).map(i => df.withColumn(key, col(key) + lit(i * span)))
      .reduce(_ unionByName _)

  // ---------- TPC-H-shaped tables (prices_daily, graph_iterate) ----------

  def region(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
  }

  def nation(s: SparkSession): DataFrame = {
    import s.implicits._
    (0 until 25).map(i => (i, s"NATION_$i", i % 5)).toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def orders(s: SparkSession, seed: Long, nOrders: Long, nCust: Long): DataFrame =
    s.range(nOrders).select(
      col("id").as("o_orderkey"),
      below(seed, 1, nCust, col("id")).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (below(seed, 2, 3, col("id")) + 1).cast("int")).as("o_orderstatus"),
      round(unit(seed, 3, col("id")) * 400000 + 1000, 2).as("o_totalprice"),
      date_add(lit("1995-01-01").cast("date"), below(seed, 4, 2500, col("id")).cast("int"))
        .cast("timestamp").as("o_orderdate"),
      concat((below(seed, 5, 5, col("id")) + 1).cast("string"), lit("-PRIO"))
        .as("o_orderpriority"))

  /** 1–7 lines per order; `nSupp` suppliers. */
  def lineitem(s: SparkSession, seed: Long, nOrders: Long, nSupp: Long): DataFrame = {
    val lk = Seq(col("l_orderkey"), col("l_linenumber"))
    s.range(nOrders)
      .select(col("id").as("l_orderkey"),
        explode(sequence(lit(1), (below(seed, 10, 7, col("id")) + 1).cast("int")))
          .as("l_linenumber"))
      .select(col("l_orderkey"),
        below(seed, 11, 20000, lk: _*).as("l_partkey"),
        below(seed, 12, nSupp, lk: _*).as("l_suppkey"),
        col("l_linenumber"),
        (below(seed, 13, 50, lk: _*) + 1).cast("double").as("l_quantity"),
        round(unit(seed, 14, lk: _*) * 104000 + 900, 2).as("l_extendedprice"),
        (below(seed, 15, 11, lk: _*).cast("double") / 100).as("l_discount"),
        (below(seed, 16, 9, lk: _*).cast("double") / 100).as("l_tax"),
        element_at(array(lit("A"), lit("N"), lit("R")),
          (below(seed, 17, 3, lk: _*) + 1).cast("int")).as("l_returnflag"),
        element_at(array(lit("O"), lit("F")),
          (below(seed, 18, 2, lk: _*) + 1).cast("int")).as("l_linestatus"),
        date_add(lit("1995-01-01").cast("date"), below(seed, 19, 2500, lk: _*).cast("int"))
          .cast("timestamp").as("l_shipdate"))
  }

  // ---------- documents (curation_batch) ----------

  private val Langs = Seq("en", "en", "en", "es", "de", "fr", "zh")

  /** Stopword-bearing documents: each word is a stopword of the document's
    * language with probability 0.45, else one of 400 content words; some
    * words carry punctuation. Ids [0, n). */
  def baseDocs(s: SparkSession, seed: Long, n: Long): DataFrame = {
    val stops = array(TextOps.Langs.map(l => array(TextOps.Stopwords(l).map(lit): _*)): _*)
    val langIdx = array(Langs.map(l => lit(TextOps.Langs.indexOf(l))): _*)
    val id = col("id")
    val word = (j: Column) =>
      when(unit(seed, 21, id, j) < 0.45,
        element_at(element_at(stops, col("li") + 1), (below(seed, 22, 10, id, j) + 1).cast("int")))
        .otherwise(concat(lit("w"), below(seed, 23, 400, id, j).cast("string"),
          when(below(seed, 24, 25, id, j) === 0, lit(".")).otherwise(lit(""))))
    s.range(n)
      .withColumn("li", element_at(langIdx, (below(seed, 20, Langs.size, id) + 1).cast("int")))
      .withColumn("nw", (below(seed, 25, 60, id) + 20).cast("int"))
      .select(id.as("doc_id"),
        array_join(transform(sequence(lit(0), col("nw") - 1), word), " ").as("text"),
        element_at(array(TextOps.Langs.map(lit): _*), col("li") + 1).as("lang"),
        concat(lit("src"), pmod(id, lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** The curation corpus: base documents, seeded SynthDocs rows, exact
    * copies of a seeded 10% of the base and near copies (one word
    * replaced) of another 10%, all key-shifted past the base ids. */
  def documents(s: SparkSession, seed: Long, nBase: Long, nSynth: Long): DataFrame = {
    val base = baseDocs(s, seed, nBase)
    val synth = s.read.format(classOf[SynthDocsSource].getName)
      .option("rows", nSynth).option("partitions", 4).option("seed", seed).load()
      .withColumn("doc_id", col("doc_id") + lit(nBase))
    val pick = below(seed, 26, 10, col("doc_id"))
    val exact = base.filter(pick === 0)
      .withColumn("doc_id", col("doc_id") + lit(nBase + nSynth))
    val near = base.filter(pick === 1)
      .withColumn("doc_id", col("doc_id") + lit(2 * nBase + nSynth))
      .withColumn("text", regexp_replace(col("text"), "^\\S+", "wnear"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    Seq(base, synth.select(SynthDocs.Schema.fieldNames.map(col): _*), exact, near)
      .reduce(_ unionByName _)
  }

  // ---------- embeddings (index_serve) ----------

  /** 64-dim unit vectors around 10 seeded label centroids; ids from `id0`. */
  def vectors(s: SparkSession, seed: Long, n: Long, id0: Long, salt: Int): DataFrame = {
    val id = col("id")
    val raw = transform(sequence(lit(0), lit(63)), j =>
      (unit(seed, 30, col("label"), j) * 2 - 1) * 0.6 +
        (unit(seed, salt, id, j) * 2 - 1) * 0.4)
    s.range(n)
      .withColumn("label", below(seed, 31, 10, id).cast("int"))
      .withColumn("raw", raw)
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select((id + lit(id0)).as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** Corpus: k perturbed, key-shifted copies of n base vectors (copy i is
    * scaled per dimension by 1 + 0.05·i·noise, the ScaleProbe grownEmb
    * shape with seeded noise). */
  def embeddings(s: SparkSession, seed: Long, n: Long, k: Int): DataFrame = {
    val base = vectors(s, seed, n, 0L, 32)
    (0 until k).map(i => base
      .withColumn("vec_id", col("vec_id") + lit(i * n))
      .withColumn("embedding", transform(col("embedding"), (x, j) =>
        (x * (lit(1.0) + lit(0.05 * i) * (unit(seed, 33, col("vec_id"), j) * 2 - 1)))
          .cast("float"))))
      .reduce(_ unionByName _)
  }
}
