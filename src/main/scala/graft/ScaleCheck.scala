package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Components, Dedup, Similarity}

/** Scaling harness: replicates the documents/embeddings tables R× (with id
  * offsets, so replicas are distinct rows that still form the same near-dup
  * structure per replica) and times the heavyweight operator families
  * end-to-end. A linear operator's wall-clock should grow ≈ R on a fixed
  * core count once fixed overhead amortizes; anything super-linear here is
  * a quadratic blow-up that 100 TB would amplify fatally.
  *
  * Run: `sbt "runMain graft.ScaleCheck [sfDir] [replications...]"`, e.g.
  * `sbt "runMain graft.ScaleCheck /root/testdata/sf0.1 1 4 10"`.
  * `SPARK_GRAFT_LEGS=lsh_cand,simhash,bloom,global_rank` restricts to the
  * named legs — how the rep=100 decade runs the cheap dedup family without
  * paying for a 100× clustering/substring pass. Skipped legs report -1; an
  * unknown leg name aborts.
  *
  * Each leg is one entry of [[legs]]: its name, its JSON keys, the input it
  * reads, an optional untimed warm pass and its body. Every replication
  * prints one JSON line with every leg's fields in table order.
  */
object ScaleCheck {

  /** R× replication with id offsets. The replicated output is REPARTITIONED
    * to the core count before use: the driver's test parquet is one
    * unsplittable row group per file, so without the fan-out every leg's
    * map side (pair explosion, fingerprinting, the BPE fold) runs in ONE
    * scan task — which both wastes 31 cores and makes timings hostage to
    * whichever side the nested-loop replication streams. A real 100 TB
    * corpus arrives in thousands of splits; the repartition recreates that
    * condition, it does not paper over a scale problem.
    */
  private def replicate(df: DataFrame, idCol: String, r: Int): DataFrame =
    df.crossJoin(
        df.sparkSession.range(r).select(col("id").as("__rep")))
      .withColumn(idCol, col(idCol) + col("__rep") * 10000000L)
      .drop("__rep")
      .repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** What a leg reads, with how to build it: once per replication, outside
    * every timed region.
    */
  private sealed abstract class Input(val force: Inputs => Any)
  private case object Docs extends Input(_.nDocs)
  private case object Embeddings extends Input(_.emb.count())
  private case object Lineitem extends Input(_.li)
  private case object Events extends Input(_.maxTs)
  private case object NoInput extends Input(_ => ())

  /** One replication's inputs, each built on first use. */
  private final class Inputs(spark: SparkSession, sfDir: String, val r: Int) {
    lazy val docs: DataFrame =
      replicate(Tables.documents(spark, sfDir), "doc_id", r).persist()
    lazy val nDocs: Long = docs.count()
    lazy val emb: DataFrame =
      replicate(Tables.embeddings(spark, sfDir), "vec_id", r).persist()
    // Graph scaling: offset BOTH orderkey and partkey per replica, so the
    // replicated lineitem forms R disjoint copies of the same co-purchase
    // graph — edges/wedges/triangles grow exactly R×, and any
    // super-linearity in the timing is the algorithm, not the data.
    // NO fan-out repartition here, unlike replicate(): li is consumed
    // lazily by operators whose FIRST step is already a keyed shuffle
    // (the co-purchase self-join), so an extra repartition would just
    // add a full fact-table shuffle inside every timed graph leg —
    // measured graph_tri 9.9 s → 25.7 s when it was present.
    lazy val li: DataFrame = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey")
      .crossJoin(spark.range(r).select(col("id").as("__rep")))
      .select(
        (col("l_orderkey") + col("__rep") * 100000000L).as("l_orderkey"),
        (col("l_partkey") + col("__rep") * 10000000L).as("l_partkey"))
    lazy val ev: DataFrame = replicate(Tables.events(spark, sfDir), "event_id", r)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"),
        expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))").as("ts"))
    lazy val maxTs: java.sql.Timestamp = ev.agg(max("ts")).head.getTimestamp(0)
  }

  /** One leg: `fields` are its JSON keys with their formats, in output
    * order, and `run` returns their values. `warm` is the replication of an
    * untimed pass of `run` before the sweep.
    */
  private final case class Leg(name: String, fields: Seq[(String, String)],
      input: Input, warm: Option[Int], run: Inputs => Seq[Any]) {
    def skipped: Seq[Any] = fields.map[Any] { case (_, f) => if (f == "%d") -1L else -1.0 }
  }

  // GC OUTSIDE every timed region (the graft.Bench discipline): a prior
  // step's tenured garbage otherwise taxes this step's shuffles — a
  // same-size control leg measured the cluster step 3.5× slower purely
  // from heap aging, which reads as a scaling cliff that isn't one.
  private def time[A](f: => A): (Double, A) = {
    System.gc()
    val t0 = System.nanoTime()
    val n = f
    ((System.nanoTime() - t0) / 1e9, n)
  }

  /** A leg timed whole: `timeKey` is its wall seconds, `countKey` the count
    * its body returns. Its input is built before the clock starts.
    */
  private def leg(name: String, timeKey: String, countKey: String, input: Input,
      warm: Option[Int] = None)(body: Inputs => Long): Leg =
    Leg(name, Seq(timeKey -> "%.2f", countKey -> "%d"), input, warm, in => {
      input.force(in)
      time(body(in)).productIterator.toSeq
    })

  /** The token hash the Count-Min and HLL legs share: 60 bits of md5. */
  private def md5int(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The legs, in output order. `maxRep` is the sweep's largest
    * replication, the size some warm passes run at.
    */
  private def legs(spark: SparkSession, sfDir: String, maxRep: Int): Seq[Leg] = {
    // Rep-invariant expectation for the hll_union leg (replication never
    // adds sources); computed once, by the leg's warm pass.
    lazy val nSrc: Long =
      Tables.documents(spark, sfDir).select("source").distinct().count()
    Seq(
      leg("lsh_cand", "lsh_cand_s", "cands", Docs) { in =>
        Dedup.candidatePairs(in.docs).count()
      },
      leg("clusters", "dedup_cluster_s", "clusters", Docs) { in =>
        val sh = Dedup.shingles(in.docs, "text", 5).persist()
        val pairs = Dedup.rerankJaccardOnShingles(
            Dedup.candidatePairsFromShingles(sh), sh)
          .filter(col("jaccard") >= 0.3).select("d1", "d2")
        val n = Components.connectedComponents(pairs)
          .select(countDistinct("label")).head.getLong(0)
        sh.unpersist(blocking = true)
        n
      },
      leg("simhash", "simhash_s", "sim_pairs", Docs) { in =>
        Dedup.simhashNearDuplicates(in.docs).count()
      },
      // Substring coverage worst case: replicas share text, so EVERY
      // 10-gram is cross-doc duplicated and the coverage pass sees ALL
      // gram starts (its upper bound = corpus token count). Cost must stay
      // ≈ linear in R; the gram window is the only corpus-sized shuffle.
      leg("substr", "substr_s", "covered_toks", Docs) { in =>
        Dedup.substringCoverage(in.docs)
          .agg(sum("covered_tokens")).head.getLong(0)
      },
      // Incremental dedup: corpus = replica 0, batch = everything else —
      // at R=10 the batch is 9× the corpus and EVERY batch row is a true
      // duplicate (replicas share text), the bloom prefilter's worst case:
      // nothing is proven-new, all rows reach the verify join. Cost must
      // stay ≈ one corpus pass + one batch-sized join, linear in R.
      leg("bloom", "bloom_incr_s", "new_docs", Docs) { in =>
        val corpus = in.docs.filter(col("doc_id") < 10000000L)
          .select(md5(col("text")).as("h"))
        val batch = in.docs.filter(col("doc_id") >= 10000000L)
          .select(col("doc_id"), md5(col("text")).as("h"))
        Dedup.incrementalNew(corpus, batch, "h",
          expectedItems = in.nDocs).count()
      },
      // Corpus-wide global ranking (the t32 shape): range-partitioned
      // parallel sort + zipWithIndex, never a single-partition window.
      // Cost must track the distributed sort; max(rk) == corpus size
      // proves the dense 1..N permutation at every scale.
      leg("global_rank", "global_rank_s", "ranked", Docs) { in =>
        graft.ops.Ranks.globalRowNumber(
          in.docs.select(col("doc_id"), length(col("text")).as("score")),
          Seq(col("score").desc, col("doc_id")), "rk")
          .agg(max("rk")).head.getLong(0)
      },
      // BPE apply (the t37 kernel): merge learning is a replica-invariant
      // pair count; the re-tokenization (native `BpeTokenize` expression)
      // is per-row work — rules × doc length, no shuffle — and must stay
      // linear in the corpus. Historical note on its warm pass: when this
      // kernel was an `aggregate()` higher-order function, its
      // CodegenFallback eval path JIT-deoptimized at a data-size threshold
      // — the identical rep=30 leg measured 14-36 s on its first run in a
      // JVM and ~3 s after — which is why the fold became the native
      // `BpeTokenize` expression; the warm pass stays so the timed legs
      // always see steady-state codegen.
      leg("bpe_apply", "bpe_apply_s", "bpe_tokens", Docs, warm = Some(30)) { in =>
        graft.ops.Bpe.applyTokens(in.docs, "text",
          graft.ops.Bpe.mergeStats(in.docs, "text", 20),
          repartitionTo = Sessions.cpus.toInt).count()
      },
      // Count-Min sketch build in its true single-pass shape: hash EVERY
      // token occurrence (corpus × depth generated rows — unlike t40's
      // vocab-derived spelling, which exists because the query also needs
      // exact counts) into d×w = 256 cells. Map-side partial aggregation
      // reduces each partition to ≤256 rows, so the shuffle is CONSTANT in
      // R and the wall-clock must track the linear scan. Same deopt cliff
      // as the old BPE fold, same cure: the md5/conv hash path
      // JIT-deoptimizes on its first large run in a fresh JVM (measured
      // 15.8 s for a rep=30 leg that re-measures at 1.5 s).
      leg("countmin", "countmin_s", "cm_cells", Docs, warm = Some(30)) { in =>
        in.docs.select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .select(col("tok"),
            explode(array((0 until 4).map(lit): _*)).as("k"))
          .select(col("k"),
            pmod(md5int(concat_ws(":", col("k"), col("tok"))), lit(64))
              .as("bucket"))
          .groupBy("k", "bucket").agg(count(lit(1)).as("cell"))
          .count()
      },
      // HLL register build (t41's sketch in its single-pass shape: hash every
      // occurrence, max is idempotent so dup tokens are free). Returns the
      // register-row count: ≤ 64 per source at EVERY replication — the
      // constant-shuffle property that makes the sketch the 100 TB distinct.
      // HLL registers: map-side partial max collapses each partition to
      // ≤ 64 rows/source before the shuffle — register count must be
      // IDENTICAL at every R while wall-clock tracks the linear scan. Same
      // md5/conv warm rationale as countmin — but at the sweep's LARGEST
      // replication: the deopt threshold re-trips when a timed leg first
      // exceeds the warmed size (a solo rep=100 hll leg measured 12-20 s
      // after a rep=30 warm and 1.8 s after a same-size one, identical
      // 480-register result).
      leg("hll", "hll_s", "hll_regs", Docs, warm = Some(maxRep)) { in =>
        in.docs.select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) > 0)
          .select(col("source"), md5int(col("tok")).as("h"))
          .select(col("source"),
            col("h").bitwiseAND(lit(63L)).as("bucket"),
            shiftright(col("h"), 6).as("w"))
          .select(col("source"), col("bucket"),
            when(col("w") === 0, lit(55))
              .otherwise(lit(55) - length(conv(col("w"), 10, 2))).as("rho"))
          .groupBy("source", "bucket").agg(max("rho").as("reg"))
          .count()
      },
      // CCNet line dedup (the t45 kernel). Replicas share text, so every
      // content line's within-source doc-frequency grows R× — at R≥5 ALL
      // lines cross the df≥5 threshold (the mass-boilerplate worst case:
      // kept collapses to 0) while the DISTINCT (source, line) table stays
      // CONSTANT in R. Cost must track the explode+aggregate+join linear
      // pass; the frequency shuffle is bounded by distinct lines, never
      // corpus volume. Historical note: as a transform(sequence)/slice/
      // array_join HOF nest the chunker hit the first-large-run JIT-deopt
      // cliff (a rep=30 leg measured 16.4 s first-run in a JVM, 6.5 s for
      // the larger rep=100 leg right after) — the reason the chunker is now
      // the fused native ChunkJoin expression. The warm pass at the sweep's
      // largest replication stays (it also warms the explode/join path).
      leg("line_dedup", "line_dedup_s", "kept_lines", Docs, warm = Some(maxRep)) { in =>
        val tk = split(col("text"), " ")
        val lines = in.docs
          .select(col("doc_id"), col("source"),
            posexplode(graft.expressions.ChunkJoin(tk, 10)))
          .withColumnRenamed("col", "line")
        val freq = lines.groupBy("source", "line")
          .agg(countDistinct("doc_id").as("df"))
        lines.join(freq.where(col("df") < 5), Seq("source", "line")).count()
      },
      // BM25 postings path (the t46 kernel): the panel-term filter runs
      // BEFORE the tf aggregate, so the shuffle carries only panel-term
      // postings (grows R× with the corpus but stays a sliver of it);
      // per-(query, doc) scores grow R×, top-k stays constant. Wall-clock
      // must track the linear token scan.
      leg("bm25", "bm25_s", "bm25_docs", Docs) { in =>
        val terms = Seq("customer", "table", "join", "stream", "window",
          "data", "fast", "hash", "value")
        in.docs.select(col("doc_id"), explode(split(col("text"), " ")).as("token"))
          .filter(col("token").isInCollection(terms))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_terms"))
          .count()
      },
      // Domain caps (the t47 kernel): URL synthesis + parse_url
      // canonicalization are per-row codegen'd projection; the only
      // corpus-sized shuffle is the domain-keyed rank window. Kept count
      // saturates at 50 × |domains| (constant in R once every domain
      // fills its cap) while wall-clock must track the linear scan +
      // one keyed shuffle.
      leg("domain_caps", "domain_caps_s", "dom_kept", Docs) { in =>
        val id = col("doc_id")
        val domIdx = floor(sqrt((id % 1600).cast("double"))).cast("int")
        val hostRaw = concat(lit("site"), domIdx.cast("string"),
          lit(".example.com"))
        val url = concat(
          when(id % 2 === 0, lit("https")).otherwise(lit("http")),
          lit("://"),
          when(id % 5 === 0, lit("www.")).otherwise(lit("")),
          when(id % 7 === 0, upper(hostRaw)).otherwise(hostRaw),
          lit("/p/"), (id % 13).cast("string"),
          when(id % 3 === 0, lit("?utm_source=feed&ref=x")).otherwise(lit("")))
        val domain = regexp_replace(
          lower(expr("parse_url(url, 'HOST')")), "^www\\.", "")
        in.docs.select(id, url.as("url"))
          .select(id, domain.as("domain"))
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy("domain").orderBy("doc_id")))
          .filter(col("rk") <= 50)
          .count()
      },
      // HLL union/intersection assembly (the t42 kernel, replanned in r8):
      // per-replica token suffixes make replica vocabularies DISJOINT, so
      // the distinct (source, tok) vocab grows exactly R× while sources
      // stay fixed — probing each piece of the replan: the register table
      // stays ≤64 rows/source (constant shuffle regardless of R), the ONE
      // vocab self-join (exact intersection, the only quadratic-looking
      // step) grows linearly with vocab, and the assembly joins stay
      // broadcasts bounded by #sources². Invariants: pair rows stay
      // C(#sources, 2) at every R, and the exact-intersection total grows
      // EXACTLY R× (each replica contributes one disjoint copy of the
      // base overlap). Its suffix projection (transform/concat/array_join
      // HOFs) and register hashing are their own first-large-run JIT
      // surfaces: the warm pass runs the leg at the sweep's largest
      // replication. hllUnionStats persists its vocab/register scans; the
      // clean slate after the docs legs drops them.
      leg("hll_union", "hll_union_s", "union_inter", Docs, warm = Some(maxRep)) { in =>
        val rep = floor(col("doc_id") / 10000000L).cast("string")
        val suffixed = in.docs.select(col("source"),
          array_join(transform(split(col("text"), " "),
            t => concat(t, lit("#"), rep)), " ").as("text"))
        val out = graft.queries.TextSketchQueries.hllUnionStats(suffixed)
          .agg(count(lit(1)).as("pairs"),
            coalesce(sum("exact_inter"), lit(0L)).as("inter"))
          .head
        require(out.getLong(0) == nSrc * (nSrc - 1) / 2,
          s"pair rows ${out.getLong(0)} != C($nSrc,2)")
        out.getLong(1)
      },
      // Video near-dup (the m7 kernel): corpus scales by GROUP count (24R
      // planted groups × 5 members), so true pairs grow exactly 240R while
      // spurious 16-bit chunk collisions stay birthday-bounded. Synthesis +
      // frame hashing is per-row executor work (linear); the band join and
      // the frame-aligned verify only ever move 12-byte hash rows.
      leg("video_fp", "video_fp_s", "vid_pairs", NoInput) { in =>
        val fh = graft.ops.Multimodal.videoFrameHashes(
            graft.ops.Multimodal.syntheticVideoVariants(
              spark, groups = 24 * in.r, perGroup = 5),
            stride = 2)
          .persist()
        val n = graft.ops.Multimodal.videoNearDupPairs(fh)
          .filter(col("avg_hamming") <= 6.0)
          .count()
        fh.unpersist(blocking = true)
        n
      },
      leg("ann", "ann_cand_s", "ann_cands", Embeddings) { in =>
        Similarity.lshCandidatePairs(in.emb, in.emb.filter(col("vec_id") < 20),
          "vec_id", "embedding").count()
      },
      // Binary sign quantization + Hamming top-k: the packing projection is
      // a linear scan emitting 16-byte rows; the broadcast-queries Hamming
      // scan is linear in the corpus (bit_count(xor) per word pair) — the
      // cheapest candidate-generation kernel of the index families here.
      leg("binary_ann", "binary_ann_s", "bin_rows", Embeddings, warm = Some(10)) { in =>
        val packed = Similarity.signPack(in.emb, "vec_id", "embedding")
        Similarity.binaryTopK(packed,
          packed.filter(col("vec_id") < 20), "vec_id", 5).count()
      },
      leg("quant", "quant_topk_s", "quant_rows", Embeddings) { in =>
        val q = Similarity.quantizeInt8(in.emb, "vec_id", "embedding").persist()
        val n = Similarity.quantizedTopK(
          q, q.filter(col("vec_id") < 20), "vec_id", 5).count()
        q.unpersist(blocking = true)
        n
      },
      // PQ train→encode→ADC-shortlist→rerank end-to-end: training is one
      // linear scan per Lloyd iteration, encode is per-row kernel work,
      // the ADC scan reads 8-byte code rows × queries, and the rerank
      // touches full vectors for shortlist·|queries| rows only — every
      // stage must stay linear in R.
      leg("pq", "pq_search_s", "pq_rows", Embeddings) { in =>
        val cb = Similarity.pqTrain(in.emb, "vec_id", "embedding",
          subspaces = 8, codes = 16, iters = 1)
        val coded = Similarity.pqEncode(in.emb, "vec_id", "embedding", cb)
          .persist()
        val n = Similarity.pqSearchTopK(coded,
          in.emb.filter(col("vec_id") < 20), in.emb,
          "vec_id", "embedding", cb, k = 5, shortlist = 50).count()
        coded.unpersist(blocking = true)
        n
      },
      leg("graph_tri", "graph_tri_s", "triangles", Lineitem) { in =>
        val e = graft.ops.Graphs.coPurchaseEdges(in.li, minSupport = 2).persist()
        val tri = graft.ops.Graphs.triangleStats(e)
          .head.getAs[Long]("n_triangles")
        e.unpersist(blocking = true)
        tri
      },
      leg("pagerank", "pagerank_s", "pr_nodes", Lineitem) { in =>
        val e = graft.ops.Graphs.coPurchaseEdges(in.li, minSupport = 2)
        graft.ops.Graphs.pagerank(e, iters = 3, d = 0.85).count()
      },
      // Streaming scaling: replicas share timestamps, so the data volume
      // grows R× while the window-state size stays CONSTANT — exactly the
      // property (state bounded by watermark, not input) that makes the
      // topology survive an unbounded stream.
      leg("stream", "stream_s", "stream_windows", Events) { in =>
        val evCols = Seq("event_id", "user_id", "event_type", "value", "ts")
        def hb(hours: Int, id: Long) = {
          import spark.implicits._
          Seq((id, -1L, "_hb", 0.0,
            new java.sql.Timestamp(in.maxTs.getTime + hours * 3600 * 1000L)))
            .toDF(evCols: _*)
        }
        graft.streaming.BoundedStream.run(
          spark, s"${Stage.Root}/scalecheck_rep${in.r}", in.ev,
          (hb(10, -1L), hb(20, -2L)),
          st => st.withWatermark("ts", "1 hour")
            .groupBy(window(col("ts"), "1 hour"), col("event_type"))
            .agg(count(lit(1)).as("n_events")))
          .filter(col("event_type") =!= "_hb").count()
      })
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args.drop(1).map(_.toInt).toSeq else Seq(1, 4, 10)
    val spark = Sessions.cli("ERROR")
    val table = legs(spark, sfDir, reps.max)
    val only = Sessions.nameFilter("SPARK_GRAFT_LEGS", table.map(_.name).toSet)(u =>
      s"[scalecheck] unknown SPARK_GRAFT_LEGS legs: $u")
    def selected(l: Leg): Boolean = only.forall(_(l.name))

    // Untimed warm passes at replicated scale (graft.Bench's warm-pass
    // discipline): a leg's first large run in a fresh JVM can pay a
    // JIT-deopt cliff that reads as a scaling one.
    for ((Some(w), ls) <- table.filter(selected).groupBy(_.warm)) {
      val in = new Inputs(spark, sfDir, w)
      ls.foreach(_.run(in))
      Sessions.cleanSlate(spark)
    }

    reps.foreach { r =>
      // Leg isolation (same discipline as graft.Bench): an earlier input's
      // cached blocks and garbage must not tax this leg's timings — a clean
      // slate outside every timed region before each replication and
      // wherever the table moves to another input (the table keeps each
      // input's legs together, docs first). Without it the R=4 leg
      // measured 3× slower than R=10 (rep 1's still-evicting blocks), which
      // read as a scaling cliff that wasn't.
      Sessions.cleanSlate(spark)
      val in = new Inputs(spark, sfDir, r)
      val fields = table.zip(Docs +: table.map(_.input)).flatMap { case (l, prev) =>
        val values = if (!selected(l)) l.skipped else {
          if (l.input != prev) Sessions.cleanSlate(spark)
          l.run(in)
        }
        l.fields.zip(values).map { case ((k, f), v) => s""""$k":${f.format(v)}""" }
      }
      // The docs count is reported even when no docs leg ran.
      println((s""""rep":$r""" +: s""""docs":${in.nDocs}""" +: fields)
        .mkString("{", ",", "}"))
    }
    spark.stop()
  }
}
