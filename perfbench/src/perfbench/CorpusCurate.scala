package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._

import graft.ice.IceTable
import graft.ice.catalog.TableIdentifier
import graft.ice.expr.{Expr => E}
import graft.ice.meta.{PartitionField, PartitionSpec}
import graft.ice.transform.DayTransform
import graft.ice.types.{Literal, SparkConv}
import graft.ops.{Caches, Dedup, TextAnalysis}

/** A curation pipeline over the `graft.ops` operators. Each pass appends
  * one seeded day-batch of documents to a source table, reads that day
  * back through the `ice` catalog, and runs exact dedup, MinHash/LSH
  * near-dup removal, the quality filter and a per-language stratified
  * sample, overwriting a curated table with the result.
  *
  * Every batch has the same make-up: unique clean documents in four
  * languages, exact copies of some of them, near-dup clusters (a base
  * document and two one-word edits of it) and short, punctuation-heavy
  * low-quality documents. From that planted structure the benchmark
  * computes in plain Scala what every stage must keep. */
final class CorpusCurate(ctx: Ctx) extends Workload {
  import ctx.{checks, spark}

  private val Langs = Seq("en", "es", "de", "fr")
  // stopwords that belong to one language only in the program's language ID
  private val Stop = Map(
    "en" -> Seq("the", "and", "of", "to", "is", "that", "it", "for", "with", "was", "on", "are"),
    "es" -> Seq("el", "y", "los", "las", "por", "con", "para", "es", "una"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "auf", "ein", "eine"),
    "fr" -> Seq("le", "les", "et", "du", "est", "pour", "dans", "sur", "une"))
  // A batch is Scale blocks of 300 documents of the same make-up: 5,100
  // documents, about the size of the sf0.1 test data's documents table.
  private val Scale = 17
  private val UniquePerLang = Map("en" -> 94, "es" -> 52, "de" -> 32, "fr" -> 32)
    .map { case (l, n) => l -> n * Scale } // 210 texts a block
  private val Clusters = 10 * Scale // of the unique texts, bases of near-dup clusters
  private val Copies = 20 * Scale // exact copies of unique non-cluster texts
  private val LowQuality = 50 * Scale
  private val Batch = 210 * Scale + 2 * Clusters + Copies + LowQuality
  private val K = 40 * Scale // stratified-sample quota per language
  private val Threshold = 0.5 // quality-score gate
  private val Day0 = 19000
  private val HistoryDays = 2 // day-batches the source table holds before the first pass

  private val docsId = TableIdentifier(Seq("bench"), "docs")
  private val curatedId = TableIdentifier(Seq("bench"), "curated")
  private var docs: IceTable = _
  private var curated: IceTable = _
  private var pass = 0

  private val rng = new java.util.SplittableRandom(ctx.seed ^ 0xC0FFEEL)
  private val vocab: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(ctx.seed)
    (0 until 2000).map { _ =>
      val n = 5 + r.nextInt(5)
      (0 until n).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.distinct
  }

  /** One planted document. `cluster` >= 0 for near-dup cluster members. */
  private final case class Doc(id: Long, text: String, lang: String, clean: Boolean, cluster: Int)

  private def cleanText(lang: String): IndexedSeq[String] = {
    val n = 90 + rng.nextInt(21)
    val stop = Stop(lang)
    (0 until n).map { _ =>
      if (rng.nextInt(100) < 35) stop(rng.nextInt(stop.size)) else vocab(rng.nextInt(vocab.size))
    }
  }
  private def render(words: IndexedSeq[String]): String =
    words.head.capitalize + words.tail.map(" " + _).mkString + "."

  /** A day-batch: fixed counts, seeded content, shuffled ids. */
  private def batch(p: Int): IndexedSeq[Doc] = {
    val texts = mutable.ArrayBuffer.empty[(String, String, Boolean, Int)]
    val uniques = Langs.flatMap(l => Seq.fill(UniquePerLang(l))(l)).map(l => l -> cleanText(l))
    uniques.zipWithIndex.foreach { case ((l, words), i) =>
      val cluster = if (i % 21 == 0 && i / 21 < Clusters) i / 21 else -1
      texts += ((render(words), l, true, cluster))
      if (cluster >= 0) {
        // two variants, each replacing one word, edits well apart
        Seq(20, 60).foreach { at =>
          val pos = at + rng.nextInt(10)
          var w = vocab(rng.nextInt(vocab.size))
          while (w == words(pos)) w = vocab(rng.nextInt(vocab.size))
          texts += ((render(words.updated(pos, w)), l, true, cluster))
        }
      }
    }
    val singles = texts.filter(_._4 < 0).toIndexedSeq
    (0 until Copies).foreach(i => texts += singles(i * 7))
    (0 until LowQuality).foreach { i =>
      val junk = Seq("$$$", "!!!", "###", "???", "%%%", "***")
      texts += ((s"${junk(rng.nextInt(6))} click ${vocab(rng.nextInt(vocab.size))} " +
        s"${junk(rng.nextInt(6))} $p$i ${junk(rng.nextInt(6))}!!", "und", false, -1))
    }
    require(texts.size == Batch)
    val perm = mutable.ArrayBuffer.range(0, Batch)
    (Batch - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    texts.indices.map { i =>
      val (t, l, clean, c) = texts(i)
      Doc(p * 1000000L + perm(i), t, l, clean, c)
    }
  }

  /** Corpus.mixKey in plain arithmetic: the sampling order. */
  private def mixKey(id: Long): Long = ((id & 0xFFFFFFFFL) * 2654435761L + 1013904223L) & 0xFFFFFFFFL

  private final case class Expected(exact: Set[Long], nearDup: Set[Long], pairs: Set[(Long, Long)],
      quality: Set[Long], sample: Set[Long], quotas: Map[String, Int])

  /** What each stage must keep, from the planted structure alone. */
  private def expected(ds: IndexedSeq[Doc]): Expected = {
    val exact = ds.groupBy(_.text).values.map(_.minBy(_.id)).toIndexedSeq
    val survivors = exact.filter(d => d.cluster < 0 ||
      d.id == exact.filter(_.cluster == d.cluster).map(_.id).min)
    val pairs = exact.filter(_.cluster >= 0).groupBy(_.cluster).values.flatMap { m =>
      for (a <- m; b <- m if a.id < b.id) yield (a.id, b.id)
    }.toSet
    val quality = survivors.filter(_.clean)
    val byLang = quality.groupBy(_.lang)
    val sample = byLang.values.flatMap(_.sortBy(d => (mixKey(d.id), d.id)).take(K)).map(_.id).toSet
    Expected(exact.map(_.id).toSet, survivors.map(_.id).toSet, pairs, quality.map(_.id).toSet,
      sample, byLang.map { case (l, v) => l -> math.min(K, v.size) })
  }

  private def frame(p: Int, ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, Day0 + p, d.text)).toDF("id", "d", "text")
      .select(col("id"), expr("date_from_unix_date(d)").as("day"), col("text"))
  }

  def mainTable: IceTable = docs
  def watchedDirs: Seq[String] = Seq(docs.location, curated.location)
  def opKinds: Seq[String] = Seq("append", "curate")

  def setup(): Unit = {
    val docSchema = SparkConv.fromSpark(StructType(Seq(
      StructField("id", LongType, nullable = false), StructField("day", DateType),
      StructField("text", StringType))))
    docs = IceTable.create(ctx.cat, docsId, docSchema,
      PartitionSpec(0, IndexedSeq(PartitionField(docSchema.findFieldByName("day").get.id, 1000,
        "day_day", DayTransform))))
    curated = IceTable.create(ctx.cat, curatedId, SparkConv.fromSpark(StructType(Seq(
      StructField("id", LongType), StructField("lang", StringType), StructField("text", StringType)))))
    while (pass < HistoryDays) {
      docs.append(spark).appendDataFrame(frame(pass, batch(pass)))
      pass += 1
    }
  }

  /** One untimed pass, checked stage by stage. */
  def warmUp(): Unit = {
    val ds = batch(pass)
    selfCheck(ds)
    docs.append(spark).appendDataFrame(frame(pass, ds))
    staged(pass, ds)
    pass += 1
  }

  /** The batch really has the planted make-up: near-dup variants sit
    * well above the Jaccard gate (so LSH finds them with near certainty). */
  private def selfCheck(ds: IndexedSeq[Doc]): Unit = {
    def shingles(t: String) = {
      val toks = t.toLowerCase.split("\\W+").filter(_.nonEmpty)
      toks.sliding(3).map(_.mkString(" ")).toSet
    }
    ds.filter(_.cluster >= 0).groupBy(_.cluster).values.foreach { m =>
      for (a <- m; b <- m if a.id < b.id) {
        val (x, y) = (shingles(a.text), shingles(b.text))
        val j = (x intersect y).size.toDouble / (x union y).size
        checks(j >= 0.8, s"corpus_curate: planted near-dup pair at Jaccard $j")
      }
    }
  }

  private def dayFrame(p: Int): DataFrame =
    spark.table("ice.bench.docs").where(col("day") === expr(s"date_from_unix_date(${Day0 + p})"))
      .select("id", "text")

  private def nearDupRemoved(s1: DataFrame, pairs: DataFrame): DataFrame =
    s1.join(pairs.select(col("b").as("id")).distinct(), Seq("id"), "left_anti")
  private def qualityKept(s2: DataFrame): DataFrame =
    TextAnalysis.qualityScore(s2, "text").where(col("quality_score") >= Threshold).select("id", "text")
  private def sampled(s3: DataFrame): DataFrame =
    TextAnalysis.stratifiedSample(s3.withColumn("lang", TextAnalysis.langId(col("text"))),
      "lang", "id", K).select("id", "lang", "text")

  /** The pipeline as a user runs it: built lazily, forced by the write. */
  private def curate(p: Int): Unit = {
    val (_, scope) = Caches.scoped {
      val s1 = Dedup.exactSurvivors(dayFrame(p), "text", "id")
      val pairs = Dedup.nearDupPairs(s1, "text", "id", threshold = 0.7)
      curated.overwrite(spark).replaceAll(sampled(qualityKept(nearDupRemoved(s1, pairs))))
    }
    scope.release()
  }

  /** The pipeline with each operator forced on its own, on the previous
    * operator's materialized output; every stage is checked. */
  private def staged(p: Int, ds: IndexedSeq[Doc]): Unit = {
    val want = expected(ds)
    def ids(df: DataFrame): Seq[Long] = ctx.untraced(df.select("id").collect().map(_.getLong(0)).toSeq)
    val (_, scope) = Caches.scoped {
      val in = Caches.track(dayFrame(p)); in.count()
      val s1 = Trace.span("ops.exact_dedup") {
        val s = Caches.track(Dedup.exactSurvivors(in, "text", "id")); s.count(); s
      }
      val s1ids = ids(s1)
      checks(s1ids.size == want.exact.size && s1ids.toSet == want.exact,
        s"corpus_curate: exact dedup kept ${s1ids.size} docs, ${want.exact.size} distinct texts")
      if (Trace.on) {
        val n = ctx.untraced(Dedup.lshCandidatePairs(
          Dedup.lshBuckets(Dedup.minhashSignatures(s1, "text", "id"), "id"), "id").count())
        Trace.add("ops.lsh_candidate_pairs", n.toDouble)
      }
      val (s2, pairs) = Trace.span("ops.minhash_lsh") {
        val pr = Caches.track(Dedup.nearDupPairs(s1, "text", "id", threshold = 0.7)); pr.count()
        val s = Caches.track(nearDupRemoved(s1, pr)); s.count(); (s, pr)
      }
      val got = ctx.untraced(pairs.select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      Trace.add("ops.verified_pairs", got.size.toDouble)
      checks(got == want.pairs, s"corpus_curate: near-dup pairs ${got.size}, planted ${want.pairs.size}" +
        s", unrelated merged: ${(got -- want.pairs).take(3)}")
      checks(ids(s2).toSet == want.nearDup, "corpus_curate: near-dup clusters do not keep one survivor each")
      val s3 = Trace.span("ops.quality") {
        val s = Caches.track(qualityKept(s2)); s.count(); s
      }
      checks(ids(s3).toSet == want.quality,
        "corpus_curate: quality filter did not drop exactly the planted low-quality documents")
      val s4 = Trace.span("ops.sample") {
        val s = Caches.track(sampled(s3)); s.count(); s
      }
      checkSample(ctx.untraced(s4.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq), ds, want)
    }
    scope.release()
  }

  private def checkSample(out: Seq[(Long, String)], ds: IndexedSeq[Doc], want: Expected): Unit = {
    val input = ds.map(_.id).toSet
    checks(out.map(_._1).distinct.size == out.size && out.forall(o => input.contains(o._1)),
      "corpus_curate: output ids are not a distinct subset of the input")
    val sizes = out.groupBy(_._2).map { case (l, v) => l -> v.size }
    checks(sizes == want.quotas, s"corpus_curate: per-language sample sizes $sizes, quotas ${want.quotas}")
    checks(out.map(_._1).toSet == want.sample, "corpus_curate: sample differs from the expected ids")
    Trace.add("ops.docs_kept", out.size.toDouble)
    Trace.add("rows_returned", out.size.toDouble)
  }

  private def checkOutput(ds: IndexedSeq[Doc]): Unit = ctx.untraced {
    val out = spark.table("ice.bench.curated").select("id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    checkSample(out, ds, expected(ds))
  }

  def round(): Unit = {
    val p = pass
    val ds = batch(p)
    selfCheck(ds)
    ctx.op("append", "write")(docs.append(spark).appendDataFrame(frame(p, ds))).foreach { snap =>
      Trace.add("write.files_added", snap.summary.getOrElse("added-data-files", "0").toDouble)
      Trace.add("write.bytes_added", snap.summary.getOrElse("added-files-size", "0").toDouble)
    }
    ctx.tracePlan(docs, Some(E.equal("day", Literal.date(Day0 + p))))
    ctx.op("curate", "curate") {
      if (Trace.on) { staged(p, ds); curate(p) } else curate(p)
    }
    checkOutput(ds)
    pass += 1
  }

  /** Documents of a pass over the median curation time (the append
    * excluded). */
  def rowsPerSecond(log: OpLog): Double = Batch / log.median("curate")

  def detail(log: OpLog): Map[String, Any] = {
    val passes = log.samples("append").zip(log.samples("curate")).map { case (a, c) => a + c }
    Map("curate_pass_p50_s" -> Stats.median(passes), "batch_docs" -> Batch)
  }
}
