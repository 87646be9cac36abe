package graftbench

import java.util.Random

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

/** The seeded synthetic corpus. Text is lines of twelve tokens: a seeded
  * vocabulary, the eight Gopher stop words and a set of common three-word
  * phrases (so the trigram LM has hits). A batch plants:
  *  - exact-duplicate groups (identical text, 2–4 copies);
  *  - near-duplicate clusters (an original and 1–3 variants, each with two
  *    tokens replaced);
  *  - junk the Gopher rules must drop (30 tokens; a quarter of the tokens
  *    '#'; a third of them numbers);
  *  - semantic near-copies among the unique documents (an embedding plus
  *    small noise);
  *  - one boilerplate line in three of every five documents — a key that
  *    is hot by design.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rng0 = new Random(seed)
  private val vocab: Array[String] = {
    val s = mutable.LinkedHashSet.empty[String]
    while (s.size < VocabSize) {
      val n = 3 + rng0.nextInt(7)
      s += (0 until n).map(_ => ('a' + rng0.nextInt(26)).toChar).mkString
    }
    s.toArray.filterNot(Stop.contains)
  }
  private val phrases: Array[Seq[String]] = Array.fill(300)(Seq.fill(3)(vocab(rng0.nextInt(vocab.length))))

  private def line(r: Random, n: Int): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    while (out.length < n) {
      val u = r.nextDouble()
      if (u < 0.05 && out.length + 3 <= n) out ++= phrases(r.nextInt(phrases.length))
      else if (u < 0.30) out += Stop(r.nextInt(Stop.length))
      else out += vocab(r.nextInt(vocab.length))
    }
    out.toSeq
  }
  private def lines(r: Random, nLines: Int, perLine: Int): Vector[Seq[String]] =
    Vector.fill(nLines)(line(r, perLine))
  private def render(ls: Vector[Seq[String]]): String = ls.map(_.mkString(" ")).mkString("\n")

  /** A text with every `every`-th token of each line replaced by `junk`:
    * a fixed share, so the planted fault holds on every seed.
    */
  private def spoil(r: Random, ls: Vector[Seq[String]], every: Int, junk: Random => String) =
    ls.map(_.zipWithIndex.map { case (t, i) => if (i % every == 0) junk(r) else t })

  /** One batch: documents with their planted kind and group, and the
    * (original, copy) id pairs of the semantic near-copies.
    */
  def batch(b: Int): (Vector[Doc], Vector[(Long, Long)]) = {
    val r = new Random(seed * 7919L + b)
    // (text, kind, group) before ids are assigned
    val specs = mutable.ArrayBuffer.empty[(String, String, Int)]
    // group sizes cycle 2, 3, 4 and the hot line goes into three documents
    // of every five, so every seed plants the same amount of structure
    var hotTurn = 0
    def hot(): Boolean = { hotTurn += 1; hotTurn % 5 < 3 }
    def doc(ls: Vector[Seq[String]]): String =
      withHot(ls.map(_.mkString(" ")), hot(), r.nextInt(ls.length + 1))
    (0 until Singles).foreach(_ => specs += ((doc(lines(r, 8, 12)), "single", -1)))
    (0 until ExactGroups).foreach { g =>
      val t = doc(lines(r, 8, 12))
      (0 until 2 + g % 3).foreach(_ => specs += ((t, "exact", g)))
    }
    (0 until NearClusters).foreach { g =>
      val base = lines(r, 8, 12)
      val isHot = hot()
      val hotAt = r.nextInt(9)
      def out(ls: Vector[Seq[String]]) = {
        val rendered = ls.map(_.mkString(" "))
        withHot(rendered, isHot, hotAt)
      }
      specs += ((out(base), "near", g))
      (0 until 1 + g % 3).foreach { _ =>
        val v = (0 until 2).foldLeft(base) { (ls, _) =>
          val li = r.nextInt(ls.length); val ti = r.nextInt(ls(li).length)
          ls.updated(li, ls(li).updated(ti, vocab(r.nextInt(vocab.length))))
        }
        specs += ((out(v), "near", g))
      }
    }
    (0 until JunkDocs).foreach { j =>
      val t = j % 3 match {
        case 0 => lines(r, 3, 10)
        case 1 => spoil(r, lines(r, 8, 12), 4, _ => "#")
        case _ => spoil(r, lines(r, 8, 12), 3, rr => rr.nextInt(100000).toString)
      }
      specs += ((doc(t), "junk", -1))
    }
    val shuffled = scala.util.Random.javaRandomToRandom(r).shuffle(specs.toVector)
    val docs0 = shuffled.zipWithIndex.map { case ((text, kind, g), i) =>
      Doc((b + 1) * 1000000L + i, text, r.nextDouble(), Sources(r.nextInt(Sources.length)),
        unitVec(r), kind, g)
    }
    // semantic near-copies: pairs of unique documents, the larger id
    // taking the smaller's embedding plus noise
    val singles = scala.util.Random.javaRandomToRandom(r).shuffle(docs0.filter(_.kind == "single").map(_.id))
      .take(2 * SemPairs).grouped(2).map(p => (p.min, p.max)).toVector
    val copyOf = singles.map(_.swap).toMap
    val byId = docs0.map(d => d.id -> d).toMap
    val docs = docs0.map { d =>
      copyOf.get(d.id).fold(d) { o =>
        val v = byId(o).vec.map(x => x + (r.nextGaussian() * 0.01).toFloat)
        d.copy(vec = normalize(v))
      }
    }
    (docs, singles)
  }

  private def withHot(ls: Vector[String], hot: Boolean, at: Int): String =
    (if (hot) (ls.take(at) :+ Hot) ++ ls.drop(at) else ls).mkString("\n")

  private def unitVec(r: Random): Array[Float] = normalize(Array.fill(Dim)(r.nextGaussian().toFloat))
  private def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  /** The trusted corpus the language models are trained on. */
  def reference(n: Int): Vector[String] = {
    val r = new Random(seed * 104729L + 17)
    Vector.fill(n)(render(lines(r, 8, 12)))
  }
}

object CorpusGen {
  val Stop: Array[String] = Array("the", "be", "to", "of", "and", "that", "have", "with")
  val Hot = "sign up for our newsletter to receive the latest offers"
  val VocabSize = 4000
  val Singles = 75
  val ExactGroups = 6
  val NearClusters = 6
  val JunkDocs = 9
  val SemPairs = 5
  val Dim = 32
  val Sources: Array[String] = Array("web", "books", "forums")

  def tokens(text: String): Array[String] = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
}

/** Stupid-backoff scores recomputed in plain Scala from the reference
  * corpus: the formula of `CorpusOps.stupidBackoffScore`.
  */
final class LmOracle(ref: Seq[String], backoff: Double = 0.4, alpha: Double = 0.5) {
  private val uni = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val bi = mutable.HashMap.empty[(String, String), Long].withDefaultValue(0L)
  private val tri = mutable.HashMap.empty[(String, String, String), Long].withDefaultValue(0L)
  ref.foreach { t =>
    val tk = CorpusGen.tokens(t)
    tk.foreach(uni(_) += 1)
    tk.sliding(2).filter(_.length == 2).foreach(w => bi((w(0), w(1))) += 1)
    tk.sliding(3).filter(_.length == 3).foreach(w => tri((w(0), w(1), w(2))) += 1)
  }
  private val ctx1 = bi.groupMapReduce(_._1._1)(_._2)(_ + _)
  private val ctx2 = tri.groupMapReduce(e => (e._1._1, e._1._2))(_._2)(_ + _)
  private val n = uni.values.sum.toDouble
  private val v = uni.size.toDouble

  /** (n_scored, score), or None for a text under three tokens. */
  def score(text: String): Option[(Long, Double)] = {
    val tk = CorpusGen.tokens(text)
    if (tk.length < 3) None
    else {
      val ls = tk.sliding(3).map { w =>
        val (a, b, c) = (w(0), w(1), w(2))
        val s =
          if (tri((a, b, c)) > 0) tri((a, b, c)) / ctx2((a, b)).toDouble
          else if (bi((b, c)) > 0) backoff * bi((b, c)) / ctx1(b).toDouble
          else backoff * backoff * (uni(c) + alpha) / (n + alpha * v)
        math.log(s)
      }.toSeq
      Some((ls.length.toLong, -ls.sum / ls.length))
    }
  }
}

/** Checks of one batch's stage outputs against the planted structure and
  * independent recomputation. Runs untimed, after the batch.
  */
final class CorpusCheck(b: Batch, lm: LmOracle) {
  import CorpusGen._
  private val byId = b.docs.map(d => d.id -> d).toMap

  private def ids(df: DataFrame): Set[Long] = df.select("id").collect().map(_.getLong(0)).toSet

  def run(op: Op, rec: Recorder, exact: DataFrame, pairs: DataFrame, kept: DataFrame,
          clean: DataFrame, good: DataFrame, scored: DataFrame, unique: DataFrame,
          shards: DataFrame): Unit = {
    def fail(what: String): Unit = rec.check(op, cond = false, what)

    // 1. each planted exact group keeps one survivor: its minimum id
    val exactIds = ids(exact)
    val wantExact = b.docs.groupBy(_.text).values.map(_.map(_.id).min).toSet
    if (exactIds != wantExact) fail(s"exact dedup kept ${exactIds.size} docs, oracle ${wantExact.size}")

    // 2. near-duplicate pairs: none across planted clusters; recall within
    // the bound the banding's S-curve gives
    val found = pairs.select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cluster = (id: Long) => byId.get(id).filter(_.kind == "near").map(_.group)
    found.find { case (a, c) => cluster(a).isEmpty || cluster(a) != cluster(c) }
      .foreach(p => fail(s"near dedup merged unrelated documents $p"))
    val planted = b.docs.filter(_.kind == "near").groupBy(_.group).values.toSeq
      .flatMap(_.map(_.id).sorted.combinations(2).map(p => (p(0), p(1))))
    val foundSet = found.map { case (a, c) => (math.min(a, c), math.max(a, c)) }.toSet
    val misses = planted.count(p => !foundSet.contains(p))
    val bound = CorpusCheck.maxMisses(planted.map { case (a, c) =>
      CorpusCheck.hitProbability(CorpusCheck.jaccard(byId(a).text, byId(c).text))
    })
    if (misses > bound) fail(s"near dedup missed $misses of ${planted.size} planted pairs (bound $bound)")

    // best in cluster: components of the found pairs keep their highest
    // quality member (ties to the lowest id)
    val uf = mutable.HashMap.empty[Long, Long]
    def root(x: Long): Long = { val p = uf.getOrElse(x, x); if (p == x) x else { val q = root(p); uf(x) = q; q } }
    found.foreach { case (a, c) => val (ra, rc) = (root(a), root(c)); if (ra != rc) uf(math.max(ra, rc)) = math.min(ra, rc) }
    val losers = found.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(root).values.flatMap { members =>
      val best = members.maxBy(id => (byId(id).quality, -id))
      members.filter(_ != best)
    }.toSet
    val keptIds = ids(kept)
    if (keptIds != exactIds -- losers) fail(s"best-in-cluster kept ${keptIds.size}, oracle ${(exactIds -- losers).size}")

    // 3. the hot line is gone from every document; the other lines are intact
    clean.select("id", "clean_text", "n_removed").collect().foreach { r =>
      val ls = byId(r.getLong(0)).text.split("\n", -1).toSeq
      val want = ls.filterNot(_.trim == Hot)
      if (r.getString(1) != want.mkString("\n") || r.getLong(2) != ls.length - want.length)
        fail(s"boilerplate removal changed document ${r.getLong(0)} wrongly")
    }
    val cleanIds = ids(clean)
    if (cleanIds != keptIds) fail("boilerplate removal lost or added documents")

    // 4. planted junk is dropped, every other document kept
    val goodIds = ids(good)
    val wantGood = cleanIds.filter(byId(_).kind != "junk")
    if (goodIds != wantGood) fail(s"gopher kept ${goodIds.size}, oracle ${wantGood.size}")

    // 5. LM scores equal the formula recomputed from the reference corpus
    val cleanText = clean.select("id", "clean_text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val gotScores = scored.select("id", "n_scored", "score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val wantScores = goodIds.toSeq.flatMap(id => lm.score(cleanText(id)).map(id -> _)).toMap
    if (gotScores.keySet != wantScores.keySet) fail("lm scored a different document set")
    else wantScores.find { case (id, (n, s)) =>
      val (gn, gs) = gotScores(id)
      gn != n || math.abs(gs - s) > 1e-9 * math.max(1.0, math.abs(s))
    }.foreach { case (id, w) => fail(s"lm score of $id is ${gotScores(id)}, oracle $w") }

    // 6. SemDedup drops only planted near-copies, and most of them
    val uniqueIds = ids(unique)
    val dropped = goodIds -- uniqueIds
    val copies = b.semPairs.collect { case (o, c) if goodIds(o) && goodIds(c) => c }.toSet
    if (!dropped.subsetOf(copies)) fail(s"semdedup dropped unplanted documents ${dropped -- copies}")
    if (dropped.size * 2 < copies.size) fail(s"semdedup dropped ${dropped.size} of ${copies.size} planted copies")

    // 7. token counts and shards recomputed from whitespace counts
    val got = shards.select("id", "source", "tokens", "shard").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    if (got.map(_._1).toSet != uniqueIds) fail("sharding lost or added documents")
    got.groupBy(_._2).foreach { case (src, rows) =>
      var cum = 0L
      rows.sortBy(_._1).foreach { case (id, _, tokens, shard) =>
        val n = CorpusGen.tokens(cleanText(id)).length.toLong
        if (tokens != n) fail(s"document $id has $tokens tokens, whitespace count $n")
        if (shard != cum / Corpus.ShardTokens) fail(s"document $id in shard $shard, oracle ${cum / Corpus.ShardTokens}")
        cum += n
      }
      rows.groupBy(_._4).foreach { case (s, rs) =>
        val ts = rs.sortBy(_._1).map(_._3)
        if (ts.sum - ts.last >= Corpus.ShardTokens) fail(s"shard $src/$s is over its token budget")
      }
    }
  }
}

object CorpusCheck {
  /** Jaccard of the two texts' distinct word 3-shingles. */
  def jaccard(a: String, b: String): Double = {
    def sh(t: String) = CorpusGen.tokens(t).sliding(3).filter(_.length == 3).map(_.toSeq).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
  /** Chance that LSH with 8 bands of 4 rows (32 hashes) pairs the two. */
  def hitProbability(j: Double): Double = 1 - math.pow(1 - math.pow(j, 4), 8)
  /** The most misses a correct LSH makes except with chance below 1e-9:
    * the Poisson tail over the pairs' miss chances.
    */
  def maxMisses(p: Seq[Double]): Int = {
    val lambda = p.map(1 - _).sum
    var m = 0
    var term = math.exp(-lambda)
    var cdf = term
    while (1 - cdf > 1e-9 && m < p.length) { m += 1; term *= lambda / m; cdf += term }
    m
  }
}
