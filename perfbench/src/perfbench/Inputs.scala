package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One row of the generated documents table (columns id, title, body —
  * `Ingest.inferSchema` picks id/title/body from these names). */
final case class Doc(id: Long, title: String, body: String)

/** A question sent through the search path. `kind` is one of
  * hit (strong anchors present in the corpus), miss (strong anchors
  * absent, so the anchor filter empties the result), weak (only weak
  * anchors, so no anchor filter runs) or repeat (an earlier question
  * asked again). */
final case class Question(text: String, kind: String)

final case class Topic(name: String, words: IndexedSeq[String])

/** Seeded input generator. Everything the engine sees is a function of
  * the seed alone: the same seed gives byte-identical documents and
  * questions, in the same order.
  *
  * Shape (what the search path's behaviour depends on):
  *  - a few hundred topics; a document's title is its topic's name, so
  *    many documents share a title and the per-title cap of 3 binds;
  *  - titles and bodies mix Hangul and ASCII words, so the anchor
  *    filter runs both its ASCII scan (ASCII titles) and its NFKC path
  *    (Korean titles and every expanded body);
  *  - body lengths spread so that a document yields 1–4 chunks at
  *    chunk size 700 / overlap 120;
  *  - the question stream mixes anchor hits, anchor misses, weak-only
  *    questions and ~25 % repeats. */
final class Inputs(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val used = mutable.HashSet.empty[String]

  // Hangul syllables built from a readable subset of jamo.
  private val finals = Array(0, 4, 8, 16, 21)
  private def syllable(): Char =
    (0xAC00 + rnd.nextInt(19) * 588 + rnd.nextInt(21) * 28 +
      finals(rnd.nextInt(finals.length))).toChar
  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  private def fresh(make: => String): String = {
    var w = make
    while (used.contains(w) || Inputs.reserved.exists(w.contains)) w = make
    used += w
    w
  }

  def koWord(): String =
    fresh(Seq.fill(2 + rnd.nextInt(2))(syllable()).mkString)

  def enWord(): String = fresh {
    val n = 5 + rnd.nextInt(4)
    (0 until n).map(i =>
      if (i % 2 == 0) consonants.charAt(rnd.nextInt(consonants.length))
      else vowels.charAt(rnd.nextInt(vowels.length))).mkString
  }

  def word(ascii: Boolean): String = if (ascii) enWord() else koWord()

  def topic(): Topic = {
    val ascii = rnd.nextBoolean()
    val words = IndexedSeq.tabulate(8)(i => word(if (i < 4) ascii else !ascii))
    Topic(s"${words(0)} ${words(1)}", words)
  }

  def topics(n: Int): IndexedSeq[Topic] = IndexedSeq.fill(n)(topic())

  def commonWords(n: Int): IndexedSeq[String] = IndexedSeq.tabulate(n)(i => word(i % 2 == 0))

  /** One document of `t`: 2–30 sentences of 6–12 words, ~30 % of them
    * topic words. */
  def doc(id: Long, t: Topic, common: IndexedSeq[String]): Doc = {
    val ascii = t.name.charAt(0) < 0x80
    val sentences = 2 + rnd.nextInt(29)
    val sb = new StringBuilder
    for (s <- 0 until sentences) {
      if (s > 0) sb.append(' ')
      val n = 6 + rnd.nextInt(7)
      for (w <- 0 until n) {
        if (w > 0) sb.append(' ')
        sb.append(
          if (rnd.nextDouble() < 0.3) t.words(rnd.nextInt(t.words.length))
          else common(rnd.nextInt(common.length)))
      }
      sb.append(if (ascii) "." else "다.")
    }
    Doc(id, t.name, sb.toString)
  }

  def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.length))

  private def weakTail(): String = pick(Inputs.weakWords)

  def hitQuestion(t: Topic): Question = {
    val a = rnd.nextInt(t.words.length)
    val b = (a + 1 + rnd.nextInt(t.words.length - 1)) % t.words.length
    Question(s"${t.words(a)} ${t.words(b)} ${weakTail()}", "hit")
  }

  def missQuestion(): Question =
    Question(s"${word(rnd.nextBoolean())} ${word(rnd.nextBoolean())} ${weakTail()}", "miss")

  def weakQuestion(): Question = {
    val ws = Seq.fill(2 + rnd.nextInt(2))(weakTail()).distinct
    Question(ws.mkString(" "), "weak")
  }

  /** The rag_query question stream: ~25 % repeats; of the rest 55 %
    * hits, 25 % misses, 20 % weak-only. */
  def questionStream(n: Int, ts: IndexedSeq[Topic]): IndexedSeq[Question] = {
    val out = mutable.ArrayBuffer.empty[Question]
    while (out.length < n) {
      val r = rnd.nextDouble()
      out += (
        if (out.nonEmpty && r < 0.25) pick(out.toIndexedSeq).copy(kind = "repeat")
        else {
          val k = rnd.nextDouble()
          if (k < 0.55) hitQuestion(pick(ts))
          else if (k < 0.80) missQuestion()
          else weakQuestion()
        })
    }
    out.toIndexedSeq
  }

  /** A batch of `size` new documents: 2–4 topics no earlier input has
    * (60 % of its documents) plus documents of `shared` topics, and
    * [[Inputs.QuestionsPerBatch]] questions naming the new topics' words,
    * so their answers must come from this batch. Doc ids are
    * `idBase` + 1 …, so the batch is a doc-id range. */
  def batch(idBase: Long, size: Int, shared: IndexedSeq[Topic],
            common: IndexedSeq[String]): Inputs.Batch = {
    val fresh = topics(2 + rnd.nextInt(3))
    val docs = IndexedSeq.tabulate(size) { i =>
      doc(idBase + i + 1, if (rnd.nextInt(10) < 6) pick(fresh) else pick(shared), common)
    }
    Inputs.Batch(docs, IndexedSeq.fill(Inputs.QuestionsPerBatch)(hitQuestion(pick(fresh))))
  }
}

object Inputs {
  /** Words the engine's anchor extraction expands or treats as weak;
    * generated words never contain them, so a question's anchors are
    * exactly the generated words it names. */
  val reserved: Seq[String] = Seq("rag", "faiss", "attention", "passage", "query")

  val weakWords: IndexedSeq[String] =
    IndexedSeq("정의", "설명", "역할", "개요", "특징", "define", "explain", "overview")

  val QuestionsPerBatch = 4

  /** Searches before timing starts: the JIT keeps speeding searches up
    * over the first several of a fresh JVM. */
  val WarmupQuestions = 6

  final case class Batch(docs: IndexedSeq[Doc], questions: IndexedSeq[Question])

  final case class RagQuery(topics: IndexedSeq[Topic], docs: IndexedSeq[Doc],
                            warmup: IndexedSeq[Question], questions: IndexedSeq[Question],
                            append: Batch)

  /** rag_query: `nDocs` documents over `nTopics` topics, warm-up
    * questions, the timed question stream, and one batch of
    * `appendDocs` new documents for the write path. */
  def ragQuery(seed: Long, nDocs: Int, nTopics: Int, nQuestions: Int, appendDocs: Int): RagQuery = {
    val g = new Inputs(seed)
    val ts = g.topics(nTopics)
    val common = g.commonWords(3000)
    val docs = IndexedSeq.tabulate(nDocs)(i => g.doc(i + 1L, g.pick(ts), common))
    val warm = g.questionStream(WarmupQuestions, ts)
    val questions = g.questionStream(nQuestions, ts)
    RagQuery(ts, docs, warm, questions, g.batch(AppendIdBase, appendDocs, ts, common))
  }

  /** First doc id of the appended batch, above any corpus id. */
  val AppendIdBase: Long = 1000000L

  /** SHA-256 over every generated document and question, in order. */
  def digest(docs: Iterable[Doc], questions: Iterable[Question]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    docs.foreach(d => md.update(s"${d.id}\u0001${d.title}\u0001${d.body}\n".getBytes("UTF-8")))
    questions.foreach(q => md.update(s"${q.kind}\u0001${q.text}\n".getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
}
