package perfbench

import java.text.Normalizer
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions.nfkc
import graft.ingest.{HashEmbedder, Ingest}
import graft.operators.{VectorIndex, VectorSearch}
import graft.search.SearchPipeline
import graft.sources.Sinks

/** One chunk of the index as the driver-side reference holds it. */
final case class Chunk(chunkId: Long, docId: Long, title: String, oo: String,
                       content: String, vec: Array[Float])

/** One kept search result, in emitted order. */
final case class Hit(marker: String, chunkId: Long, id: String, title: String,
                     oo: String, content: String, score: Double)

/** What a search must return, computed on the driver by brute force. */
final case class Expected(hits: Seq[Hit], cut: Double, cutRows: Int, anchoredRows: Int)

/** Driver-side brute-force reference for the search path: exact cosine
  * over every chunk appended so far (same double arithmetic as the
  * engine's cosine kernel), then the reference backend's post-k-NN rules
  * — min-max normalization, margin + floor cut, strong-anchor filter,
  * per-title cap and round-robin diversify — written out directly. */
final class Reference {
  val chunks = mutable.ArrayBuffer.empty[Chunk]

  /** Collect (chunk_id, doc_id, title, oo, content, embedding) rows. */
  def add(spark: SparkSession, rows: DataFrame): Int = {
    import spark.implicits._
    val it = rows.select("chunk_id", "doc_id", "title", "oo", "content", "embedding")
      .as[(Long, Long, String, String, String, Array[Float])].toLocalIterator()
    var n = 0
    while (it.hasNext) {
      val (c, d, t, o, s, v) = it.next()
      chunks += Chunk(c, d, t, o, s, v)
      n += 1
    }
    n
  }

  def cosine(x: Array[Float], y: Array[Float]): Double = {
    var dot, nx, ny = 0.0
    var i = 0
    while (i < x.length) {
      val xi = x(i).toDouble
      val yi = y(i).toDouble
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    val denom = math.sqrt(nx) * math.sqrt(ny)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Top `k` by (score desc, chunk id asc) among chunks passing `keep`. */
  def top(q: Array[Float], k: Int, keep: Chunk => Boolean = _ => true): IndexedSeq[(Chunk, Double)] =
    chunks.iterator.filter(keep).map(c => c -> cosine(c.vec, q)).toIndexedSeq
      .sortBy { case (c, s) => (-s, c.chunkId) }.take(k)

  def expect(question: String): Expected = {
    val q = HashEmbedder.embed("query: " + question.trim, Rag.Dim)
    val fetched = top(q, Rag.FetchK)
    if (fetched.isEmpty) return Expected(Nil, 0.0, 0, 0)
    val hi = math.max(1.0, fetched.map(_._2).max)
    val lo = math.min(-1.0, fetched.map(_._2).min)
    val norm = fetched.map { case (c, s) => c -> (s - lo) / (hi - lo) }
    val best = norm.map(_._2).max
    val cut = math.max(best - Rag.Margin, best * (1.0 - Rag.Margin))
    val kept = norm.filter { case (_, s) => s >= Rag.Floor && s >= cut }
    val strong = SearchPipeline.anchorsFromQuery(question).strong
    val anchored =
      if (strong.isEmpty) kept
      else kept.filter { case (c, _) =>
        Reference.anchorHit(c.content, strong, blankPassage = true) ||
          Reference.anchorHit(c.title, strong, blankPassage = false)
      }
    val ordered = anchored.sortBy { case (c, s) => (-s, c.chunkId) }
    val rankInGroup = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val capped = ordered.flatMap { case (c, s) =>
      val g = Reference.groupKey(c)
      rankInGroup(g) += 1
      if (rankInGroup(g) <= Rag.Cap) Some((c, s, g, rankInGroup(g))) else None
    }
    val firstPos = mutable.LinkedHashMap.empty[String, Int]
    capped.zipWithIndex.foreach { case ((_, _, g, _), i) => firstPos.getOrElseUpdate(g, i + 1) }
    val emitted = capped.sortBy { case (c, s, g, r) => (r, firstPos(g), -s, c.chunkId) }.take(Rag.TopK)
    val hits = emitted.zipWithIndex.map { case ((c, s, _, _), i) =>
      Hit(s"S${i + 1}", c.chunkId, c.docId.toString, c.title, c.oo, c.content, s)
    }
    Expected(hits, cut, kept.size, anchored.size)
  }
}

object Reference {
  def nfkcLower(s: String): String =
    Normalizer.normalize(s, Normalizer.Form.NFKC).toLowerCase(Locale.ROOT)

  def anchorHit(s0: String, anchors: Set[String], blankPassage: Boolean): Boolean = {
    if (s0 == null) return false
    val s = if (blankPassage) s0.replace("passage:", " ") else s0
    val n = nfkcLower(s)
    anchors.exists(n.contains)
  }

  def groupKey(c: Chunk): String =
    nfkcLower(if (c.title != null && c.title.nonEmpty) c.title
      else if (c.oo != null) c.oo else "unknown")
}

/** The rag_query workload. */
object Rag {
  // Reference backend defaults (backend_config.yaml): top_k 5, margin
  // 0.12, similarity floor 0.35, per-title cap 3, fetch ×4.
  val TopK = 5
  val Margin = 0.12
  val Floor = 0.35
  val Cap = 3
  val FetchK: Int = math.max(TopK * 4, TopK + 5)
  val Dim: Int = HashEmbedder.DefaultDim
  val SaveName = "bench"

  private val schema = Ingest.inferSchema(Seq("id", "title", "body"))

  def docsFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(docs)

  /** Index build + write. Untraced: the fused `Ingest.buildIndex`.
    * Traced: the same steps one by one, each materialized, so expand +
    * chunk, embed and the parquet write get their own spans; outside the
    * spans, the step-by-step rows must equal `buildIndex`'s (row count
    * and an order-insensitive hash of every column). */
  def ingest(ctx: Ctx, docs: DataFrame, path: String, partitioned: Boolean): Unit = {
    val spark = ctx.spark
    def write(df: DataFrame): Unit = ctx.tracer.span("sinks.append") {
      if (partitioned) df.write.partitionBy("save_name").parquet(path)
      else Sinks.insertRows(spark, path, df)
    }
    if (!ctx.tracer.enabled) write(Ingest.buildIndex(docs, schema, SaveName))
    else {
      val chunked = ctx.tracer.span("ingest.expand_chunk") {
        Ingest.expandDocuments(docs, schema)
          .select(col("doc_id"), col("title"), col("oo"), col("metadata"),
            posexplode(Ingest.chunkUdf(700, 120)(col("content"))).as(Seq("chunk_seq", "content")))
          .withColumn("chunk_id", col("doc_id") * 10000 + col("chunk_seq"))
          .localCheckpoint(eager = true)
      }
      val embedded = ctx.tracer.span("ingest.embed") {
        chunked.withColumn("embedding", HashEmbedder.embedCol(col("content"), Dim))
          .withColumn("save_name", lit(SaveName))
          .select("save_name", "chunk_id", "doc_id", "chunk_seq", "title", "oo",
            "content", "metadata", "embedding")
          .localCheckpoint(eager = true)
      }
      val fused = Ingest.buildIndex(docs, schema, SaveName)
      ctx.check(embedded.schema == fused.schema,
        s"step-by-step ingest schema ${embedded.schema.simpleString} != buildIndex ${fused.schema.simpleString}")
      val (stepwise, direct) = (rowsDigest(embedded), rowsDigest(fused))
      ctx.check(stepwise == direct, s"step-by-step ingest rows $stepwise != buildIndex rows $direct")
      write(embedded)
    }
  }

  /** Row count and order-insensitive hash (the sum of each row's
    * xxhash64 over every column; maps as their sorted entries). */
  def rowsDigest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      if (f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]) array_sort(map_entries(col(f.name)))
      else col(f.name)
    }
    val r = df.select(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(20,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** The fused search: `SearchPipeline.search`, collected, then the
    * marked context. */
  def searchFused(index: DataFrame, question: String): (Seq[Hit], String) = {
    val rows = SearchPipeline.search(index, question, TopK, Margin, Floor, Cap, 4, Dim)
      .select(col("marker"), col("chunk_id"), element_at(col("metadata"), "id").as("id"),
        col("title"), col("oo"), col("content"), col("score"))
      .collect()
    val hits = rows.toSeq.map(r => Hit(r.getString(0), r.getLong(1), r.getString(2),
      r.getString(3), r.getString(4), r.getString(5), r.getDouble(6)))
    (hits, context(hits))
  }

  def context(hits: Seq[Hit]): String =
    SearchPipeline.markedContext(hits.map(h => (h.marker, h.id, h.title, h.oo, h.score, h.content)))

  /** The traced search: the public steps one by one, each in its span —
    * query embedding, anchor extraction, `VectorSearch.knnExact` for the
    * top fetch_k, the post-k-NN stages over the fetched rows, then the
    * marked context. The k-NN id column is a struct led by chunk_id, so
    * its order equals the fused search's (score desc, chunk_id), and it
    * carries the columns the fused search scans, metadata included (as
    * its entries: a map is not orderable). */
  def searchTraced(ctx: Ctx, index: DataFrame, question: String): (Seq[Hit], String) = {
    val spark = ctx.spark
    val t = ctx.tracer
    val q = t.span("search.embed_query")(HashEmbedder.embed("query: " + question.trim, Dim))
    val anchors = t.span("search.anchors")(SearchPipeline.anchorsFromQuery(question))
    val fetched = t.span("vector_search.knn") {
      val rows = index.select(
        struct(col("chunk_id"), col("doc_id"), col("title"), col("oo"), col("content"),
          map_entries(col("metadata")).as("metadata")).as("row"), col("embedding"))
      VectorSearch.knnExact(rows, "row", "embedding", q.toSeq, FetchK).collect()
    }
    val hits = t.span("vector_search.post") {
      import spark.implicits._
      val local = fetched.toSeq.map { r =>
        val s = r.getStruct(0)
        val id = s.getSeq[org.apache.spark.sql.Row](5).collectFirst {
          case e if e.getString(0) == "id" => e.getString(1)
        }.orNull
        (s.getLong(0), id, s.getString(2), s.getString(3), s.getString(4), r.getDouble(1))
      }.toDF("chunk_id", "id", "title", "oo", "content", "score")
      val cut = VectorSearch.marginFilter(VectorSearch.normalizeScoresIP(local), Margin, Floor)
      val anchored =
        if (anchors.strong.isEmpty) cut
        else cut.filter(SearchPipeline.strongAnchorPredicate(col("content"), col("title"), anchors.strong))
      val group = lower(nfkc(coalesce(
        when(length(col("title")) > 0, col("title")), col("oo"), lit("unknown"))))
      VectorSearch.diversify(anchored.withColumn("_g", group), col("_g"), col("chunk_id"), Cap, TopK)
        .select(concat(lit("S"), col("div_rank")).as("marker"), col("chunk_id"), col("id"),
          col("title"), col("oo"), col("content"), col("score"))
        .collect().toSeq
        .map(r => Hit(r.getString(0), r.getLong(1), r.getString(2), r.getString(3),
          r.getString(4), r.getString(5), r.getDouble(6)))
    }
    (hits, t.span("search.context")(context(hits)))
  }

  def search(ctx: Ctx, index: DataFrame, question: String): (Seq[Hit], String) =
    if (ctx.tracer.enabled) searchTraced(ctx, index, question) else searchFused(index, question)

  /** Every check on one search result. Returns false (and records why)
    * when any fails. */
  def checkSearch(ctx: Ctx, question: Question, got0: Seq[Hit], contextText: String,
                  exp: Expected): Boolean = {
    val got = ctx.maybeCorrupt(got0)
    val where = s"search '${question.text}'"
    val markersOk = got.map(_.marker) == got.indices.map(i => s"S${i + 1}")
    val capOk = got.groupBy(h => Reference.nfkcLower(if (h.title.nonEmpty) h.title else h.oo))
      .values.forall(_.size <= Cap)
    val scoresOk = got.forall(h => h.score >= Floor && h.score >= exp.cut)
    val sameAsRef = got.size == exp.hits.size && got.zip(exp.hits).forall { case (a, b) =>
      a.marker == b.marker && a.chunkId == b.chunkId && a.id == b.id &&
        math.abs(a.score - b.score) <= 1e-9
    }
    val contextOk = contextText.startsWith("<CONTEXT>") && (got.isEmpty || contextText.contains("《S1》"))
    ctx.check(markersOk && got.size <= TopK, s"$where: markers ${got.map(_.marker)} are not S1..Sn with n <= $TopK") &&
      ctx.check(capOk, s"$where: per-title cap $Cap exceeded") &&
      ctx.check(scoresOk, s"$where: a kept score is below the floor or the margin cut") &&
      ctx.check(sameAsRef, s"$where: kept ${got.map(h => (h.marker, h.chunkId))} != brute force " +
        s"${exp.hits.map(h => (h.marker, h.chunkId))}") &&
      ctx.check(contextOk, s"$where: marked context does not carry the kept markers")
  }

  def dirStats(path: String): (Int, Long) = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      val data = files.filter(p => p.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (data.length, data.map(p => java.nio.file.Files.size(p)).sum)
    } finally files.close()
  }

  def textBytes(docs: Seq[Doc]): Long =
    docs.map(d => d.title.getBytes("UTF-8").length.toLong + d.body.getBytes("UTF-8").length).sum

  /** Median (mean of the middle two for an even count); NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  // ------------------------------------------------------------------ //

  /** rag_query: build the corpus index once per set-up repetition, then
    * answer the seeded question stream through the fused search (the
    * end-to-end metrics). In the traced run, after the timed loop, the
    * write path runs once for its per-layer metrics: an append into an
    * empty index, searches aimed at it, an IVF rebuild and probes. */
  def runQuery(ctx: Ctx, sessionS: Double): Unit = {
    val spark = ctx.spark
    val nQuestions = math.max(3, math.round(ctx.seconds * QueryQuestionsPerSecond).toInt)
    val t0 = System.nanoTime()
    val in = Inputs.ragQuery(ctx.seed, QueryDocs, QueryTopics, nQuestions, AppendDocs)
    val docs = docsFrame(spark, in.docs)
    val genS = (System.nanoTime() - t0) / 1e9
    val builds = (0 until SetupReps).map { r =>
      val dir = ctx.workDir.resolve(s"rq$r").toString
      val b0 = System.nanoTime()
      ctx.tracer.op(-1 - r, "setup.build")(ingest(ctx, docs, s"$dir/index.parquet", partitioned = true))
      (dir, (System.nanoTime() - b0) / 1e9)
    }
    val dir = builds.last._1
    builds.init.foreach(b => deleteDir(b._1))
    val l0 = System.nanoTime()
    val index = ctx.tracer.op(-10, "setup.load")(ctx.tracer.span("tables.load")(Tables.load(spark, dir, "index")))
    in.warmup.foreach(q => searchFused(index, q.text))
    val warmS = (System.nanoTime() - l0) / 1e9
    ctx.put("setup_s", sessionS + genS + median(builds.map(_._2)) + warmS)

    val ref = new Reference
    val r0 = System.nanoTime()
    val nChunks = ref.add(spark, spark.read.parquet(s"$dir/index.parquet"))
    val (files, bytes) = dirStats(s"$dir/index.parquet")
    ctx.info(f"phases: gen_s=$genS%.2f warm_s=$warmS%.2f ref_load_s=${(System.nanoTime() - r0) / 1e9}%.2f " +
      s"build_s=${builds.map(_._2).mkString(",")}")
    ctx.info(s"sizes: docs=${in.docs.size} chunks=$nChunks vector_bytes=${nChunks.toLong * Dim * 4} " +
      s"index_bytes=$bytes index_files=$files questions=$nQuestions")

    // Searches run back to back from a collected heap; their checks run
    // after the loop, so the checker's allocation and CPU stay out of the
    // timed ops.
    System.gc()
    val lat = mutable.ArrayBuffer.empty[(Question, Double)]
    val answers = in.questions.zipWithIndex.map { case (q, i) =>
      try {
        val (out, s) = ctx.timedOp(i, "search")(search(ctx, index, q.text))
        lat += q -> s
        Right(out)
      } catch { case e: Throwable => Left(e) }
    }
    val outcomes = mutable.ArrayBuffer.empty[Expected]
    in.questions.zip(answers).zipWithIndex.foreach { case ((q, answer), i) =>
      ctx.attempt(s"search '${q.text}'") {
        val (hits, text) = answer.fold(e => throw e, identity)
        val exp = ref.expect(q.text)
        outcomes += exp
        val ok = checkSearch(ctx, q, hits, text, exp)
        if (ok && ctx.tracer.enabled && i < TracedFusedChecks)
          ctx.check(searchFused(index, q.text)._1 == hits,
            s"search '${q.text}': step-by-step result differs from SearchPipeline.search")
        ok
      }
    }
    ctx.info("latencies: " + lat.map { case (q, s) => f"${q.kind}:$s%.3f" }.mkString(" "))
    ctx.put("op_p50_s", median(lat.map(_._2).toSeq))
    ctx.put("ops_per_s", lat.size / lat.map(_._2).sum)
    ctx.put("search.kept_over_fetched", outcomes.map(_.hits.size).sum.toDouble / (FetchK * math.max(1, lat.size)))
    ctx.put("search.anchor_empty_frac",
      outcomes.count(e => e.cutRows > 0 && e.anchoredRows == 0).toDouble / math.max(1, lat.size))
    putSearchLayers(ctx)
    ctx.put("index_bytes_per_input_byte", bytes.toDouble / textBytes(in.docs))
    ctx.put("ingest.chunks_per_doc", nChunks.toDouble / in.docs.size)
    // over the warm set-up builds (ops -2, -3, …; op -1 is the cold
    // one); layer times per 1k documents
    ctx.put("ingest_docs_per_s", in.docs.size / median(builds.map(_._2).drop(1)))
    Seq("ingest.expand_chunk", "ingest.embed", "sinks.append").foreach { n =>
      ctx.put(n + "_s", ctx.tracer.meanSelf(n, op => op < -1 && op >= -SetupReps) * 1000.0 / in.docs.size)
    }

    if (ctx.tracer.enabled) writePath(ctx, in.append)
  }

  /** The write path, once: append `batch` to an empty index with
    * `Sinks.insertRows`, re-read it (`Tables.invalidate` + `Tables.load`)
    * and send the batch's questions — the first must see the batch — then
    * rebuild an IVF index over it (`VectorIndex.train`, `buildAndWrite`)
    * and probe it with `searchApprox`. Every result is checked against
    * the brute-force reference; the timings feed per-layer metrics only. */
  private def writePath(ctx: Ctx, batch: Inputs.Batch): Unit = {
    val spark = ctx.spark
    val dir = ctx.workDir.resolve("append").toString
    val path = s"$dir/index.parquet"
    val ref = new Reference
    val a0 = System.nanoTime()
    ctx.attempt("append") {
      ctx.tracer.op(1000, "append")(ingest(ctx, docsFrame(spark, batch.docs), path, partitioned = false))
      true
    }
    val appendS = (System.nanoTime() - a0) / 1e9
    val (lo, hi) = (Inputs.AppendIdBase, Inputs.AppendIdBase + batch.docs.size)
    val added = ref.add(spark, spark.read.parquet(path).filter(col("doc_id").between(lo + 1, hi)))
    ctx.check(added > 0, "no chunks of the appended batch are in the index")
    // freshness: append, re-read and the first search, without the
    // reference's own read in between
    val r0 = System.nanoTime()
    Tables.invalidate(spark)
    val index = Tables.load(spark, dir, "index")
    batch.questions.zipWithIndex.foreach { case (q, qi) =>
      ctx.attempt(s"search '${q.text}' after the append") {
        val (hits, text) = ctx.tracer.op(1001 + qi, "search.after_append")(search(ctx, index, q.text))
        if (qi == 0) ctx.put("fresh_p50_s", appendS + (System.nanoTime() - r0) / 1e9)
        checkSearch(ctx, q, hits, text, ref.expect(q.text)) &&
          ctx.check(qi > 0 || (hits.nonEmpty && hits.forall(h => h.id.toLong > lo && h.id.toLong <= hi)),
            s"search '${q.text}': the batch is not visible in the first search after its append")
      }
    }
    val (files, bytes) = dirStats(path)
    ctx.put("sinks.bytes_per_doc", bytes.toDouble / batch.docs.size)
    ctx.put("sinks.files_per_append", files)
    ctx.put("tables.index_files", files)

    val ivf = s"$dir/ivf"
    var recall, scanned = 0.0
    ctx.attempt("IVF rebuild and probes") {
      val model = ctx.tracer.op(2000, "ivf.build") {
        val m = ctx.tracer.span("vector_index.train")(VectorIndex.train(index, "embedding", IvfLists))
        ctx.tracer.span("vector_index.assign_write")(VectorIndex.buildAndWrite(index, "embedding", m, ivf))
        m
      }
      val assigned = ref.chunks.map(c => model.nearest(c.vec))
      batch.questions.zipWithIndex.forall { case (q, pi) =>
        val qv = HashEmbedder.embed("query: " + q.text.trim, Dim)
        val got = ctx.tracer.op(2001 + pi, "ivf.probe")(ctx.tracer.span("vector_index.probe") {
          VectorIndex.searchApprox(spark.read.parquet(ivf), model, "chunk_id", "embedding", qv, 10, IvfProbe)
            .collect().toSeq.map(r => (r.getLong(0), r.getDouble(1)))
        })
        val cells = model.ranked(qv).take(IvfProbe).toSet
        val inCells = ref.chunks.indices.filter(i => cells(assigned(i))).map(ref.chunks(_).chunkId).toSet
        val want = ref.top(qv, 10, c => inCells(c.chunkId)).map { case (c, s) => (c.chunkId, s) }
        recall += VectorIndex.recallAtK(ref.top(qv, 10).map(_._1.chunkId), got.map(_._1))
        scanned += inCells.size.toDouble / ref.chunks.size
        ctx.check(got.map(_._1) == want.map(_._1) &&
          got.zip(want).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-9 },
          s"IVF probe '${q.text}': ${got.map(_._1)} != exact top-10 within the probed cells ${want.map(_._1)}")
      }
    }
    ctx.info(f"write path: append_s=$appendS%.2f docs=${batch.docs.size} chunks=${ref.chunks.size} " +
      s"index_files=$files")
    Seq("vector_index.train", "vector_index.assign_write", "vector_index.probe")
      .foreach(n => ctx.put(n + "_s", ctx.tracer.meanSelf(n, _ >= 2000)))
    ctx.put("vector_index.recall_at_10", recall / batch.questions.size)
    ctx.put("vector_index.rows_scanned_frac", scanned / batch.questions.size)
  }

  private def putSearchLayers(ctx: Ctx): Unit =
    Seq("search.embed_query", "search.anchors", "search.context",
      "vector_search.knn", "vector_search.post").foreach(n => ctx.put(n + "_s", ctx.tracer.meanSelf(n, timedOp)))

  /** Op ids of the timed searches (set-up ops are negative, the write
    * path's from 1000 up). */
  val timedOp: Int => Boolean = op => op >= 0 && op < 1000

  def deleteDir(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))

  // Sizes, chosen so that one untraced run takes under a minute on a
  // 4-core box: ~8k documents → ~21k chunks (~86 MB of 1024-dim
  // vectors), 1.5 questions per second of --seconds, a 1k-document
  // append in the traced run.
  val QueryDocs = 8000
  val QueryTopics = 300
  val QueryQuestionsPerSecond = 1.5
  val AppendDocs = 1000
  val IvfLists = 32
  val IvfProbe = 4
  val SetupReps = 3
  // Traced runs compare the step-by-step search with the fused one on
  // this many questions (each comparison costs a second search).
  val TracedFusedChecks = 2
}
