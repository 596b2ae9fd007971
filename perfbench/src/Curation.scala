package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.lakehouse.TableIO
import graft.lakehouse.ext.{Dedup, Graph, Packing, Similarity, SuffixDedup, TextNorm, Tokenizer}

/** A training-data pipeline over documents, embeddings and a graph: each op
  * is one stage (normalize, exact and near-dup removal, duplicate-span
  * removal, BPE, packing, exact LSH top-k, PageRank, link prediction) over a
  * seeded slice of the inputs read from the lakehouse. The generator plants the duplicates
  * and repeated spans, so every result is checked against what the
  * benchmark computes itself on the driver. */
final class Curation(val ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private val rnd = new scala.util.Random(ctx.seed)

  // ---- seeded inputs ----------------------------------------------------
  private val docs: IndexedSeq[Doc] = {
    val texts = new Array[String](NumDocs)
    val usedAsSource = mutable.Set.empty[Int]
    (0 until NumDocs).map { d =>
      val planted = d % 31 == 7
      texts(d) =
        if (d % 25 == 24 && !usedAsSource(d - 1) && (d - 1) % 31 != 7) {
          usedAsSource += d - 1 // an exact copy of its predecessor
          texts(d - 1)
        } else {
          val words = Seq.fill(20 + rnd.nextInt(40))(Vocab(rnd.nextInt(Vocab.size)))
          (if (planted) PlantedSpan + " " else "") + words.mkString(" ")
        }
      Doc(d.toLong, texts(d), Langs(rnd.nextInt(Langs.size)), s"src${rnd.nextInt(5)}")
    }
  }
  /** Planted near-duplicate pairs (source, copy). */
  private val dupOf: Map[Long, Long] =
    docs.indices.filter(d => d > 0 && docs(d).text == docs(d - 1).text)
      .map(d => d.toLong -> (d - 1).toLong).toMap

  private val vectors: IndexedSeq[Array[Float]] =
    IndexedSeq.fill(NumVectors)(Array.fill(Dim)(rnd.nextGaussian().toFloat))

  private val edges: IndexedSeq[(Long, Long)] =
    (0 until NumParts).flatMap { p =>
      Seq.fill(SuppliersPerPart)(rnd.nextInt(NumSuppliers)).distinct
        .map(s => (p * 2L, s * 2L + 1))
    }

  def prepareInputs(): Unit = {
    ctx.writeRaw("documents", spark.createDataFrame(docs.map(_.row).asJava, DocSchema))
    ctx.writeRaw("embeddings", spark.createDataFrame(vectors.zipWithIndex.map { case (v, i) =>
      Row(i.toLong, v.toSeq, i % 10)
    }.asJava, EmbSchema))
    ctx.writeRaw("edges", spark.createDataFrame(edges.map(e => Row(e._1, e._2)).asJava,
      EdgeSchema))
  }

  def setup(): Unit = {
    val lh = ctx.freshLakehouse()
    TableIO.writeTable(spark, lh, "documents", ctx.readRaw("documents"), sortBy = Seq("doc_id"))
    TableIO.writeTable(spark, lh, "embeddings", ctx.readRaw("embeddings"))
    TableIO.writeTable(spark, lh, "edges", ctx.readRaw("edges"))
  }

  private def read(t: String, condition: String = ""): DataFrame =
    Trace.layer("TableIO.read")(TableIO.readTable(spark, ctx.lh, t, condition = condition))

  private def check(ok: Boolean, why: => String): Option[String] =
    if (ok) None else Some(why)

  private def same(got: Digest, want: Digest): Option[String] =
    check(got == want, s"digest $got, expected $want")

  /** A seeded window of documents. */
  private def window(r: scala.util.Random): (Int, Int, String) = {
    val lo = r.nextInt(NumDocs - Window)
    (lo, lo + Window, s"doc_id >= $lo AND doc_id < ${lo + Window}")
  }

  private def docDigest(d: Doc): Digest = Digest(1, Digest.rowHashOf(Seq(
    d.id -> LongType, d.text -> StringType, d.lang -> StringType,
    d.source -> StringType, d.text.length.toLong -> LongType)))

  val cycleLength = 10

  def op(i: Int): Op[_] = {
    val r = new scala.util.Random(ctx.seed * 1000003L + i)
    i % cycleLength match {
      case 0 =>
        val (lo, hi, cond) = window(r)
        Op("text_norm") {
          val w = read("documents", cond)
          Consume.digest(Trace.layer("ext.TextNorm") {
            TextNorm.normalizeDocuments(w, "doc_id", "text")
          })
        } { got =>
          same(got, (lo until hi).map { d =>
            val t = docs(d).text
            Digest(1, Digest.rowHashOf(Seq(d.toLong -> LongType, t -> StringType,
              t.length.toLong -> LongType, t.length.toLong -> LongType, false -> BooleanType)))
          }.foldLeft(Digest.Zero)(_ + _))
        }
      case 1 =>
        val (lo, hi, cond) = window(r)
        Op("near_dup") {
          val w = read("documents", cond)
          Consume.digest(Trace.layer("ext.Dedup") {
            Dedup.dedupByComponents(w, "doc_id", Dedup.minHashNearDupPairs(w, "doc_id", "text"))
          })
        } { got => same(got, dedupedDigest(lo, hi)) }
      case 2 =>
        val (lo, hi, cond) = window(r)
        Op("suffix_dedup") {
          val w = read("documents", cond)
          Consume.collect(Trace.layer("ext.SuffixDedup") {
            SuffixDedup.removeDuplicateSpans(w, "doc_id", "text", spanLen = SpanLen)
          })
        } { rows =>
          val removed = rows.map(x => x.getLong(0) -> x.getAs[Long]("n_chars_removed")).toMap
          val planted = (lo until hi).filter(d => docs(d).text.startsWith(PlantedSpan))
          check(removed.keySet == (lo until hi).map(_.toLong).toSet,
            s"${removed.size} documents back for a window of ${hi - lo}")
            .orElse(check(planted.size < 2 || planted.forall(d => removed(d) >= SpanLen),
              "a planted repeated span survived"))
        }
      case 3 =>
        val (lo, hi, cond) = window(r)
        Op("bpe") {
          val w = read("documents", cond)
          val (merges, tokens) = Trace.layer("ext.Tokenizer") {
            val merges = Tokenizer.learnBpeMerges(w, "text", numMerges = 64)
            (merges, Tokenizer.withBpeTokens(w.select("doc_id", "text"), "text", merges))
          }
          (merges.size, Consume.collect(tokens))
        } { case (merges, rows) =>
          check(merges == 64, s"$merges merges learned")
            .orElse(check(rows.length == hi - lo, s"${rows.length} documents tokenized"))
            .orElse(check(rows.forall { x =>
              x.getSeq[String](2).mkString == x.getString(1).toLowerCase.replaceAll("\\s+", "")
            }, "tokens do not concatenate back to the text"))
        }
      case 4 =>
        val (lo, hi, cond) = window(r)
        Op("pack") {
          val w = read("documents", cond).select("doc_id", "n_chars")
          Consume.collect(Trace.layer("ext.Packing") {
            Packing.packSequences(w, "n_chars", budget = PackBudget)
          })
        } { rows =>
          val packs = rows.groupBy(_.getLong(2)).values.map(_.map(_.getLong(1)).sum)
          check(rows.map(_.getLong(0)).sorted.toSeq == (lo until hi).map(_.toLong),
            "packing lost or repeated documents")
            .orElse(check(packs.forall(_ <= PackBudget), "a pack exceeds the budget"))
        }
      case 5 | 9 =>
        val qs = Seq.fill(Queries)(r.nextInt(NumVectors).toLong).distinct
        Op("lsh_topk") {
          val emb = read("embeddings")
          val queries = emb.filter(col("vec_id").isin(qs: _*))
          Consume.collect(Trace.layer("ext.Similarity") {
            Similarity.lshTopK(emb, queries, "vec_id", "embedding", k = K,
              numPlanes = 4, dim = Dim, probeAll = true)
          }.select("query_id", "vec_id", "rank"))
        } { rows =>
          val got = rows.groupBy(_.getLong(0)).map { case (q, xs) =>
            q -> xs.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq
          }
          check(got == qs.map(q => q -> exactTopK(q.toInt)).toMap,
            "top-k differs from the exact cosine top-k")
        }
      case 6 =>
        val m = r.nextInt(5)
        Op("pagerank") {
          val es = read("edges", edgeCond(m))
          Consume.collect(Trace.layer("ext.Graph") {
            Graph.pageRankFixedPoint(es, "src", "dst", iterations = PageRankIters)
          }.select("v", "rank_units"))
        } { rows =>
          check(rows.map(x => x.getLong(0) -> x.getLong(1)).toMap == pageRank(subgraph(m)),
            "PageRank differs from the fixed-point replay")
        }
      case 7 =>
        val m = r.nextInt(5)
        Op("link_prediction") {
          val es = read("edges", edgeCond(m))
          Consume.collect(Trace.layer("ext.Graph") {
            Graph.linkPredictionTopPairs(es, "src", "dst", topN = TopPairs)
          }.select("u", "v", "cn"))
        } { rows =>
          check(rows.map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq ==
            topPairs(subgraph(m)), "top pairs differ from the exact common-neighbour count")
        }
      case 8 =>
        val (lo, hi, cond) = window(r)
        Op("exact_dedup") {
          val w = read("documents", cond)
          Consume.digest(Trace.layer("ext.Dedup") {
            Dedup.exactDedup(w, Seq("text"), "doc_id")
          })
        } { got => same(got, dedupedDigest(lo, hi)) }
    }
  }

  /** The window without the planted copies whose source is also in it. */
  private def dedupedDigest(lo: Int, hi: Int): Digest =
    (lo until hi).filterNot(d => dupOf.get(d.toLong).exists(_ >= lo))
      .map(d => docDigest(docs(d))).foldLeft(Digest.Zero)(_ + _)

  // ---- driver-side references -----------------------------------------
  private def exactTopK(q: Int): Seq[Long] = {
    def norm(v: Array[Float]) = math.sqrt(v.map(x => x.toDouble * x).sum)
    val qv = vectors(q)
    val qn = norm(qv)
    vectors.indices.map { j =>
      val v = vectors(j)
      var dot = 0.0
      var k = 0
      while (k < Dim) { dot += qv(k).toDouble * v(k); k += 1 }
      (j.toLong, dot / (qn * norm(v)))
    }.sortBy(x => (-x._2, x._1)).take(K).map(_._1)
  }

  /** Suppliers are 2s+1; subgraph m drops those with s % 5 == m. */
  private def edgeCond(m: Int) = s"dst % 10 <> ${2 * m + 1}"
  private def subgraph(m: Int) = edges.filter(e => e._2 % 10 != 2 * m + 1)

  private def adjacency(es: Seq[(Long, Long)]): Map[Long, Set[Long]] =
    es.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupBy(_._1)
      .map { case (v, xs) => v -> xs.map(_._2).toSet }

  /** Graph.pageRankFixedPoint's integer recurrence. */
  private def pageRank(es: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = adjacency(es)
    val n = adj.size.toLong
    val base = ((100L - Damping) * Graph.Unit) / (100L * n)
    var rank = adj.map { case (v, _) => v -> Graph.Unit / n }
    (1 to PageRankIters).foreach { _ =>
      val in = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      adj.foreach { case (u, ns) =>
        val c = rank(u) / ns.size
        ns.foreach(v => in(v) += c)
      }
      rank = adj.map { case (v, _) => v -> (base + (Damping * in(v)) / 100) }
    }
    rank
  }

  /** Graph.linkPredictionTopPairs's (u, v, cn) top-N over non-adjacent pairs. */
  private def topPairs(es: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val adj = adjacency(es)
    val cn = mutable.HashMap.empty[(Long, Long), Long].withDefaultValue(0L)
    adj.values.filter(ns => ns.size >= 2 && ns.size <= 1024).foreach { ns =>
      val s = ns.toArray.sorted
      var i = 0
      while (i < s.length) {
        var j = i + 1
        while (j < s.length) { cn((s(i), s(j))) += 1; j += 1 }
        i += 1
      }
    }
    cn.iterator.filter { case ((u, v), _) => !adj(u).contains(v) }
      .map { case ((u, v), c) => (u, v, c) }.toSeq
      .sortBy { case (u, v, c) => (-c, u, v) }.take(TopPairs)
  }
}

object Curation {
  val NumDocs = 5000
  val Window = 400
  val NumVectors = 1000
  val Dim = 64
  val Queries = 8
  val K = 10
  val NumParts = 1200
  val NumSuppliers = 250
  val SuppliersPerPart = 4
  val PageRankIters = 3
  val Damping = 85
  val TopPairs = 50
  val SpanLen = 50
  val PackBudget = 8192L
  val PlantedSpan = "graft planted overlap span the quick brown fox jumps over 0123456789 lazy dog"
  val Vocab: IndexedSeq[String] = ("batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window row table stream merge data join " +
    "vector customer the a of shard page index commit log tree node edge").split(" ").toIndexedSeq
  val Langs = Seq("en", "de", "fr", "zh")

  final case class Doc(id: Long, text: String, lang: String, source: String) {
    def row: Row = Row(id, text, lang, source, text.length.toLong)
  }

  val DocSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))
  val EmbSchema = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
  val EdgeSchema = StructType(Seq(StructField("src", LongType), StructField("dst", LongType)))
}
