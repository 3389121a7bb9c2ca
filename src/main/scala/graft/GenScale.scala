package graft

import org.apache.spark.sql.functions._

/** Scaling-study fixture generator (not part of the driver contract):
  * synthesizes a `factor`×-scaled twin of a testdata dir under a
  * writable destination, so the README scaling table can measure one
  * decade PAST the largest driver-provided SF (sf0.1 → "sf1").
  *
  * The driver's generator is not available, so `documents` is re-drawn
  * from the SOURCE dir's own empirical distributions — per-lang unigram
  * token weights (grown per Heaps' law, V ∝ factor^0.5, with a Zipf
  * tail of synthetic rare types — a fixed table would saturate the
  * shingle space and fake df ∝ N), per-lang length histogram,
  * (lang, source) joint — with
  * exact-duplicate and near-duplicate planting at the source's observed
  * rates (1/625 exact at sf0.1; near-dups planted at 1/125 with every
  * 10th token resampled). Every doc is a pure function of its id
  * (seeded per-row RNG), so the corpus is deterministic, partitioning-
  * independent, and regenerable.
  *
  * Round 10 extends the same treatment to the other decade-study
  * inputs: `part` (p_name redrawn from the source's name-word table —
  * the q206/q209 edit-join axis), `events` (factor× users over the
  * same calendar span, copies time-jittered — the q217/q221 axis), and
  * `embeddings` (factor× vectors as seeded ±10% perturbations of their
  * base — the PQ/IVF axis). Remaining tables copy through unchanged.
  *
  * Usage: runMain graft.GenScale <srcDir> <destDir> <factor>
  */
object GenScale {
  def main(args: Array[String]): Unit = {
    val Array(srcDir, destDir, factorS) = args.take(3)
    val factor = factorS.toInt
    require(factor >= 1)
    // optional 4th arg: comma-separated table subset to synthesize
    // (e.g. "documents" for a funnel-only decade — at factor 10000 the
    // full dir would mean 1B events and 200M part names nothing reads)
    val only: Set[String] =
      args.lift(3).map(_.split(",").toSet).getOrElse(Set("all"))
    // a typo like "document" would otherwise synthesize nothing and
    // exit 0, leaving an incomplete scale dir that only fails at read
    val knownTables = Set("all", "documents", "part", "events",
      "embeddings", "region", "nation", "customer", "supplier",
      "orders", "lineitem")
    val unknown = only -- knownTables
    require(unknown.isEmpty,
      s"unknown table(s) ${unknown.mkString(",")}; valid: ${knownTables.toSeq.sorted.mkString(",")}")
    def want(t: String): Boolean =
      only.contains("all") || only.contains(t)
    val spark = graft.conf.Sessions.forMain("graft-genscale")
    import spark.implicits._

    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val n0 = docs.count()
    val n = n0 * factor

    // empirical distributions (tiny: 31 tokens × 5 langs at sf0.1)
    val langSource: Array[((String, String), Long)] = docs
      .groupBy("lang", "source").count()
      .as[(String, String, Long)].collect()
      .map(r => ((r._1, r._2), r._3)).sortBy(_._1)
    val tokW: Map[String, Array[(String, Long)]] = docs
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").count()
      .as[(String, String, Long)].collect()
      .groupBy(_._1)
      .map { case (l, rows) => l -> rows.map(r => (r._2, r._3)).sorted }
    val lenH: Map[String, Array[Int]] = docs
      .select(col("lang"), size(split(col("text"), " ")).as("k"))
      .as[(String, Int)].collect()
      .groupBy(_._1).map { case (l, rows) => l -> rows.map(_._2).sorted }

    def cum[T: scala.reflect.ClassTag](
        xs: Array[(T, Long)]): (Array[T], Array[Long], Long) = {
      val vals = xs.map(_._1)
      val cs = xs.map(_._2).scanLeft(0L)(_ + _).tail
      (vals, cs, cs.last)
    }
    val (lsVals, lsCum, lsTot) = cum(langSource)

    // Heaps-law vocabulary growth (round-8 caveat, closed): a fixed
    // empirical table saturates the shingle space — every type's df
    // grows linearly with corpus size, which is a FIXTURE artifact, not
    // engine truth. Real corpora grow types as V(N) = V0·(N/N0)^β,
    // β ≈ 0.5 (Heaps '78). Per lang: the source's V0 empirical types
    // keep their observed relative weights at the Zipf head-mass share
    // of the grown vocabulary, and ranks V0+1..V0·factor^β become
    // synthetic tail types ("<lang>zipfR", ASCII, space-free) with
    // r^-s weights (s = 1.1, the text-corpus range) — so new types are
    // individually rare exactly like real tail vocabulary, and langid/
    // quality gates still see the head stopwords they key on.
    val HeapsBeta = 0.5
    val ZipfS = 1.1
    val tokCum = tokW.map { case (l, xs) =>
      val v0 = xs.length
      val v = math.ceil(v0 * math.pow(factor.toDouble, HeapsBeta)).toInt
      if (v <= v0) l -> cum(xs)
      else {
        val zipf = (1 to v).map(r => math.pow(r.toDouble, -ZipfS))
        val zTot = zipf.sum
        val headMass = zipf.take(v0).sum / zTot
        val empTot = xs.map(_._2).sum.toDouble
        // integer weights on a common 1e9 grid keep cum() in exact Long
        val scale = 1e9
        val head = xs.map { case (w, c) =>
          (w, math.max(1L, (c / empTot * headMass * scale).toLong)) }
        val tail = (v0 + 1 to v).map { r =>
          (s"${l}zipf$r",
            math.max(1L, (math.pow(r.toDouble, -ZipfS) / zTot * scale).toLong))
        }.toArray
        l -> cum(head ++ tail)
      }
    }

    def pick[T](vals: Array[T], cs: Array[Long], tot: Long,
                rnd: java.util.Random): T = {
      val x = (rnd.nextDouble() * tot).toLong
      var lo = 0; var hi = cs.length - 1
      while (lo < hi) {
        val mid = (lo + hi) / 2
        if (cs(mid) > x) hi = mid else lo = mid + 1
      }
      vals(lo)
    }

    // doc i is a pure function of i — dup planting regenerates the base
    def gen(id: Long): (String, String, String) = {
      val rnd = new java.util.Random(id * 0x9e3779b97f4a7c15L + 42L)
      val (lang, source) = pick(lsVals, lsCum, lsTot, rnd)
      val lens = lenH(lang)
      val len = lens(rnd.nextInt(lens.length))
      val (tv, tc, tt) = tokCum(lang)
      val toks = Array.fill(len)(pick(tv, tc, tt, rnd))
      (lang, source, toks.mkString(" "))
    }
    def genDoc(id: Long): (Long, String, String, String) = {
      if (id % 625 == 624 && id >= 625) {
        // exact dup of the doc one stride earlier — genDoc, not gen: the
        // base may itself sit on the near-dup stride, and an exact dup
        // must copy what the base ACTUALLY says. Every chain member is
        // ≡ 624 (mod 625), so the stride walk bottoms out at id % 625
        // in ONE step — the equivalent recursion (id − 625 per frame)
        // is id/625 deep and overflows the task stack past ~5M docs
        (genDoc(id % 625) match { case (_, l, s, t) => (id, l, s, t) })
      } else if (id % 125 == 124) {
        val (l, s, t) = gen(id - 124) // near-dup: every 10th token fresh
        val rnd = new java.util.Random(id * 0x517cc1b727220a95L + 7L)
        val (tv, tc, tt) = tokCum(l)
        val toks = t.split(" ")
        var k = 9
        while (k < toks.length) { toks(k) = pick(tv, tc, tt, rnd); k += 10 }
        (id, l, s, toks.mkString(" "))
      } else {
        val (l, s, t) = gen(id)
        (id, l, s, t)
      }
    }

    if (want("documents"))
      spark.range(n).repartition(32).map { id =>
        val (i, l, s, t) = genDoc(id)
        (i, t, l, s, t.length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")

    // --- part: p_name space grown factor× for the edit-distance /
    // entity-resolution decade rows (q206/q209 read only p_name).
    // Names re-draw 5 words from the source's own name-word table
    // (TPC-H's ~92 color words), so near-miss collisions keep their
    // empirical density; rows beyond the source keyspace simply never
    // join lineitem (which passes through) — the studied queries don't
    // read those columns. Pure function of id.
    if (want("part")) {
    val partSrc = spark.read.parquet(s"$srcDir/part.parquet")
    val pWordsEmp: Array[(String, Long)] = partSrc
      .select(explode(split(col("p_name"), " ")).as("w"))
      .filter(col("w") =!= "").groupBy("w").count()
      .as[(String, Long)].collect().sorted
    // Heaps growth for the name vocabulary too (same round-9 lesson as
    // documents): a fixed word table at factor× names saturates the
    // name space and fakes match density — the first q206 decade run
    // on a fixed table read 100×/decade with 4500× the matches, a
    // fixture artifact. Real catalogs grow brand/series tokens as they
    // grow rows.
    val pWords: Array[(String, Long)] = {
      val v0 = pWordsEmp.length
      val v = math.ceil(v0 * math.pow(factor.toDouble, HeapsBeta)).toInt
      if (v <= v0) pWordsEmp
      else {
        val zipf = (1 to v).map(r => math.pow(r.toDouble, -ZipfS))
        val zTot = zipf.sum
        val headMass = zipf.take(v0).sum / zTot
        val empTot = pWordsEmp.map(_._2).sum.toDouble
        val scale = 1e9
        val head = pWordsEmp.map { case (w, c) =>
          (w, math.max(1L, (c / empTot * headMass * scale).toLong)) }
        // tail words are seeded random letter strings, NOT numbered
        // ("pz101"/"pz102" are edit-distance-1 neighbors — numbering
        // the tail manufactured 12× the quadratic match density)
        val tail = (v0 + 1 to v).map { r =>
          val rnd = new java.util.Random(r * 0x9e3779b97f4a7c15L + 31L)
          val w = Array.fill(7)(('a' + rnd.nextInt(26)).toChar).mkString
          (w,
            math.max(1L, (math.pow(r.toDouble, -ZipfS) / zTot * scale).toLong))
        }.toArray
        head ++ tail
      }
    }
    val (pwVals, pwCum, pwTot) = cum(pWords)
    val np0 = partSrc.count()
    val restCols = partSrc.columns.toSeq
      .filter(c => c != "p_partkey" && c != "p_name")
    val rest = partSrc.select(((col("p_partkey") - 1L) % np0).as("__j"),
      struct(restCols.map(col): _*).as("__rest"))
    spark.range(np0 * factor).map { id =>
        val rnd = new java.util.Random(id * 0x2545f4914f6cdd1dL + 11L)
        // 5 DISTINCT words per name (TPC-H permutes, never repeats —
        // with-replacement repeats shorten names and inflate collisions)
        val ws = scala.collection.mutable.LinkedHashSet.empty[String]
        while (ws.size < 5) ws += pick(pwVals, pwCum, pwTot, rnd)
        (id + 1L, ws.mkString(" "), id % np0)
      }.toDF("p_partkey", "p_name", "__j")
      .join(rest, Seq("__j"))
      .select(col("p_partkey") +: col("p_name") +:
        restCols.map(c => col(s"__rest.$c").as(c)): _*)
      .write.mode("overwrite").parquet(s"$destDir/part.parquet")
    }

    // --- events: factor× users over the SAME calendar span (the axis
    // the DAU/retention/survival curves feel): copy c remaps users and
    // event ids into disjoint ranges and shifts each (copy, user)'s
    // whole timeline by a deterministic sub-hour jitter — per-user
    // lifetimes, event-type mix, and value distribution are preserved
    // exactly; copies are independent users.
    if (want("events")) {
    val evSrc = spark.read.parquet(s"$srcDir/events.parquet")
    val evMax = evSrc.agg(max(col("event_id")), max(col("user_id")))
      .as[(Long, Long)].collect()(0)
    evSrc.crossJoin(
        spark.range(factor.toLong).select(col("id").as("__c")))
      .withColumn("__j",
        pmod(xxhash64(col("__c"), col("user_id"), lit(13L)), lit(1800L)))
      .select(
        (col("event_id") + col("__c") * (lit(evMax._1) + 1L))
          .as("event_id"),
        expr("timestampadd(SECOND, __j, ts)").as("ts"),
        (col("user_id") + col("__c") * (lit(evMax._2) + 1L))
          .as("user_id"),
        col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$destDir/events.parquet")
    }

    // --- embeddings: factor× vectors — copy c perturbs every
    // coordinate of its base vector with seeded ±10%-of-|x| noise, so
    // the point cloud densifies without collapsing into exact atoms
    // (the PQ/IVF training decade rows read this). Labels copy.
    if (want("embeddings")) {
    val embSrc = spark.read.parquet(s"$srcDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"), col("label"))
      .as[(Long, Array[Float], Int)]
    val ne0 = embSrc.count()
    embSrc.flatMap { case (vid, emb, label) =>
      (0 until factor).map { c =>
        val id = vid + c * ne0
        val rnd = new java.util.Random(id * 0x9e3779b97f4a7c15L + 23L)
        val v =
          if (c == 0) emb
          else emb.map(x => x + (rnd.nextFloat() - 0.5f) * 0.2f *
            math.abs(x))
        (id, v, label)
      }
    }.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")
    }

    // pass-through tables (complete dir keeps every query runnable)
    Seq("region", "nation", "customer", "supplier", "orders",
      "lineitem").filter(want).foreach { t =>
      spark.read.parquet(s"$srcDir/$t.parquet")
        .write.mode("overwrite").parquet(s"$destDir/$t.parquet")
    }
    println(s"GENSCALE rows=$n dest=$destDir")
    spark.stop()
  }
}
