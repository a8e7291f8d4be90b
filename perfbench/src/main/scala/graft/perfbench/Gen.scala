package graft.perfbench

import scala.util.Random

/** Seeded input generators. Everything a run feeds the engine comes from
  * here and from the fixed dataset: the same seed gives the same
  * requests, documents, edits and query sample. */
object Gen {

  /** The corpus vocabulary of the dataset's documents. */
  val Vocab: IndexedSeq[String] =
    ("spark window merge table column vector stream value data small " +
      "join filter big group hash customer sort order slow line part " +
      "fast row the agg key query a scan batch").split(' ').toIndexedSeq

  // ---------------------------------------------------------------- serve

  final case class Request(id: Int, kind: String, terms: Seq[String]) {
    def question: String = terms.mkString(" ")
  }

  /** The request types. No measured request traffic exists for this
    * system, so the mix is an assumption: every type gets an equal share
    * (`n / 5`, the remainder spread in this order). The counts are fixed,
    * so every seed asks for the same work; the seed orders the requests
    * and draws their terms. */
  val RequestKinds: Seq[String] = Seq("topk", "ivf", "rag", "bm25", "hybrid")

  /** Zipf exponent of question terms over vocabulary ranks: 1, the
    * classic word-frequency law. An assumption, like the mix. */
  val ZipfS = 1.0

  /** Zipf(s) over vocabulary ranks: rank r has weight 1 / r^s. */
  private def zipfDraw(rnd: Random, n: Int, s: Double): Int = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    var u = rnd.nextDouble() * w.sum
    var i = 0
    while (i < n - 1 && u >= w(i)) { u -= w(i); i += 1 }
    i
  }

  /** `n` requests; each question is 2 to 5 distinct corpus terms drawn
    * with Zipf skew, so popular term sets repeat across requests. The
    * question lengths of each request type cycle through 2..5, so every
    * seed asks for the same amount of work. */
  def requests(seed: Long, n: Int): Seq[Request] = {
    val rnd = new Random(seed)
    val kinds = RequestKinds.zipWithIndex.flatMap { case (k, i) =>
      Seq.fill(n / RequestKinds.size + (if (i < n % RequestKinds.size) 1 else 0))(k)
    }
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    rnd.shuffle(kinds).zipWithIndex.map { case (kind, i) =>
      val want = 2 + seen(kind) % 4
      seen(kind) += 1
      val terms = scala.collection.mutable.LinkedHashSet[String]()
      while (terms.size < want) terms += Vocab(zipfDraw(rnd, Vocab.size, ZipfS))
      Request(i, kind, terms.toSeq)
    }
  }

  // --------------------------------------------------------------- ingest

  final case class Doc(file: String, verId: Long, text: String)
  final case class Round(added: Seq[Doc], modified: Seq[Doc],
                         deleted: Seq[String])
  final case class IngestPlan(batches: Seq[Seq[Doc]], rounds: Seq[Round])

  private def text(rnd: Random): String =
    Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")

  private val sameLength: Map[Int, IndexedSeq[String]] =
    Vocab.groupBy(_.length).map { case (k, v) => k -> v.sorted }

  /** An edit that keeps the text's length: about a fifth of the words are
    * swapped for a different word of the same length, so the edited file
    * keeps its chunk ids and only their contents change. */
  private def edit(rnd: Random, t: String): String =
    t.split(' ').map { w =>
      val alts = sameLength(w.length).filter(_ != w)
      if (alts.nonEmpty && rnd.nextDouble() < 0.2) alts(rnd.nextInt(alts.size))
      else w
    }.mkString(" ")

  /** A bulk load of `batches` × `perBatch` new documents, then `rounds`
    * refresh rounds that each edit `modShare`, delete `delShare` and add
    * `addShare` (shares of the live files). Every document version gets a
    * fresh `verId`, the id the append-only index and ANN stores key on. */
  def ingestPlan(seed: Long, batches: Int, perBatch: Int, rounds: Int,
                 modShare: Double, delShare: Double,
                 addShare: Double): IngestPlan = {
    val rnd = new Random(seed)
    var nextFile = 0
    var nextVer = 0L
    def newDoc(): Doc = {
      val d = Doc(f"f$nextFile%06d.txt", nextVer, text(rnd))
      nextFile += 1; nextVer += 1; d
    }
    val bulk = Seq.fill(batches)(Seq.fill(perBatch)(newDoc()))
    val live = scala.collection.mutable.LinkedHashMap[String, Doc]()
    bulk.flatten.foreach(d => live(d.file) = d)
    val rs = (0 until rounds).map { _ =>
      val files = live.keys.toIndexedSeq
      val picked = rnd.shuffle(files)
      val nMod = math.round(modShare * files.size).toInt
      val nDel = math.round(delShare * files.size).toInt
      val nAdd = math.round(addShare * files.size).toInt
      val modified = picked.take(nMod).sorted.map { f =>
        val d = Doc(f, nextVer, edit(rnd, live(f).text))
        nextVer += 1; d
      }
      val deleted = picked.slice(nMod, nMod + nDel).sorted
      val added = Seq.fill(nAdd)(newDoc())
      modified.foreach(d => live(d.file) = d)
      deleted.foreach(live.remove)
      added.foreach(d => live(d.file) = d)
      Round(added, modified, deleted)
    }
    IngestPlan(bulk, rs)
  }

  /** The chunker's windows over one text: (chunk_index, text), starting
    * at 0 and advancing by size − overlap while the start is below the
    * text length. */
  def chunks(t: String, size: Int, overlap: Int): Seq[(Int, String)] =
    (0 until t.length by (size - overlap)).zipWithIndex.map { case (s, i) =>
      i -> t.substring(s, math.min(s + size, t.length))
    }

  /** Exact dedup within one batch: per distinct text, the row with the
    * smallest id survives. */
  def dedup(rows: Seq[(String, String)]): Seq[(String, String)] =
    rows.groupBy(_._2).values.map(_.minBy(_._1)).toSeq.sortBy(_._1)

  // ------------------------------------------------------------ analytics

  final case class QueryInfo(name: String, family: String, band: Int)

  /** The analytics sample in execution order: every target, always first
    * and in the given order (so each target runs at the same point of a
    * cold JVM's warm-up on every seed), then `perBand` further queries
    * from each time band, spread round-robin over family modules, in a
    * seeded order. */
  def analyticsSample(seed: Long, population: Seq[QueryInfo],
                      targets: Seq[String], perBand: Int): Seq[String] = {
    val rnd = new Random(seed)
    val others = population.filterNot(q => targets.contains(q.name))
      .sortBy(_.name)
    val picked = others.groupBy(_.band).toSeq.sortBy(_._1).flatMap {
      case (_, qs) =>
        val byFamily = rnd.shuffle(qs.groupBy(_.family).toSeq.sortBy(_._1))
          .map { case (_, fq) => rnd.shuffle(fq).iterator }
        val out = scala.collection.mutable.ArrayBuffer[String]()
        while (out.size < perBand && byFamily.exists(_.hasNext))
          byFamily.foreach(it => if (out.size < perBand && it.hasNext) out += it.next().name)
        out
    }
    targets ++ rnd.shuffle(picked)
  }
}
