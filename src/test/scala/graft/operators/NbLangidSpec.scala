package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Trained NB language router: full plain-Scala replay of the
  * train→smooth→score→argmax trajectory on the real corpus, plus a
  * separable crafted corpus where the classifier must be perfect.
  */
class NbLangidSpec extends SparkSpec {
  import spark.implicits._

  private def replay(rows: Seq[(Long, String, String)])
      : Map[(String, String), Long] = {
    val ilog = UnigramLm.ilog2Q10 _
    def toks(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    val train = rows.filter(_._1 % 5 != 0)
    val ev = rows.filter(_._1 % 5 == 0)
    val cnt = collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for ((_, lang, t) <- train; w <- toks(t)) cnt((lang, w)) += 1
    val langs = train.map(_._2).distinct.sorted
    val tl = langs.map(l =>
      l -> cnt.collect { case ((`l`, _), n) => n }.sum).toMap
    val v = train.flatMap(t => toks(t._3)).distinct.size.toLong
    val nd = langs.map(l =>
      l -> train.count(_._2 == l).toLong).toMap
    val conf = collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    for ((_, actual, t) <- ev) {
      val ws = toks(t)
      val pred = langs.minBy { l =>
        val s = ilog(nd(l)) +
          ws.map(w => if (cnt((l, w)) > 0) ilog(cnt((l, w)) + 1) else 0L)
            .sum - ws.size.toLong * ilog(tl(l) + v)
        (-s, l)
      }
      conf((actual, pred)) += 1
    }
    conf.toMap
  }

  test("text_nb_langid: confusion matrix equals the plain-Scala NB " +
      "replay on the real corpus (integer-exact scores end to end)") {
    val rows = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val got = graft.SparkEntry.queries("text_nb_langid")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == replay(rows))
    assert(got.values.sum == rows.count(_._1 % 5 == 0).toLong,
      "every held-out doc must be classified exactly once")
  }

  test("a separable crafted corpus classifies perfectly (diagonal " +
      "confusion), including docs with unseen words") {
    val docs = (0L until 40L).map { i =>
      val lang = if (i % 2 == 0) "aa" else "bb"
      val words = if (lang == "aa") "red green blue red green"
        else "eins zwei drei eins zwei"
      // held-out docs get one unseen word — smoothing must absorb it
      val t = if (i % 5 == 0) words + s" novel$i" else words
      (i, lang, t)
    }
    val got = NbLangid.confusion(docs.toDF("doc_id", "lang", "text"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got.keys.forall { case (a, p) => a == p },
      s"off-diagonal predictions on a separable corpus: $got")
    assert(got.values.sum == 8L)
  }

  /** A corpus whose shared-stopword head crosses Skew.MinHotCount, so
    * route's hot-salted word attach genuinely engages (below the
    * floor the hot set is empty and the join degenerates to the plain
    * single-bucket path — SkewSpec territory). */
  private def hotCorpus: Seq[(Long, String, String)] =
    (0L until 250L).map { i =>
      val lang = if (i % 2 == 0) "aa" else "bb"
      val body = if (lang == "aa") "red green blue red green"
        else "eins zwei drei eins zwei"
      val stop = Seq.fill(24)("zz").mkString(" ")
      val t = if (i % 5 == 0) s"$stop $body novel$i" else s"$stop $body"
      (i, lang, t)
    }

  test("route under an ENGAGED hot-salted word attach (head word over " +
      "MinHotCount in train) still equals the plain-Scala NB replay " +
      "exactly, and the derived hot set contains the head word") {
    val docs = hotCorpus
    val df = docs.toDF("doc_id", "lang", "text")
    val train = df.where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
    val cnt = train.groupBy("lang", "word")
      .agg(count(lit(1)).cast("long").as("n"))
    // 200 train docs x 24 = 4800 'zz' occurrences >= MinHotCount=4096
    val hot = NbLangid.hotWords(cnt).collect().map(_.getString(0)).toSet
    assert(hot == Set("zz"),
      s"exactly the engineered head word must be hot, got $hot")
    val got = NbLangid.confusion(df).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == replay(docs),
      "salted-path confusion must equal the plain-Scala replay")
    assert(got.values.sum == 50L)
  }

  test("nb model memo lifecycle: a regenerated table evicts the " +
      "superseded entry and releases its checkpointed planes") {
    withTempDir("nb_lifecycle") { dir =>
      def writeDocs(salt: String): Unit =
        (0L until 10L).map { i =>
          val lang = if (i % 2 == 0) "aa" else "bb"
          (i, s"w$salt${i % 2} w$salt${i % 3} w$salt${i % 2}",
            lang, s"src${i % 3}", 30L)
        }.toDF("doc_id", "text", "lang", "source", "n_chars")
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      def blocks: Int = spark.sparkContext.getPersistentRDDs.size
      def fpOf(k: String): String = k.substring(k.indexOf('#') + 1)
      val evalDocs = Seq((100L, "wa0 wa1 wa0"), (101L, "wb1 wb2 wb1"))
        .toDF("doc_id", "text")
      // settle the baseline: the async ContextCleaner may still be
      // releasing OTHER tests' unreachable checkpoints — read base only
      // once the count holds still, or the concurrent shrink masks the
      // build's growth
      def settled(): Int = {
        var prev = -1; var cur = blocks
        val dl = System.currentTimeMillis() + 15000
        while (cur != prev && System.currentTimeMillis() < dl) {
          System.gc(); Thread.sleep(300); prev = cur; cur = blocks
        }
        cur
      }
      spark.catalog.clearCache()
      writeDocs("a")
      val base = settled()
      NbLangid.routeMemo(spark, dir, evalDocs).collect()
      val genOne = blocks
      assert(genOne > base, "a built model must pin checkpointed planes")
      val keys1 = NbLangid.nbMemo.keys.filter(_.contains(dir))
      assert(keys1.size == 1, s"one live entry per dir: $keys1")
      writeDocs("b")
      NbLangid.routeMemo(spark, dir, evalDocs).collect()
      val keys2 = NbLangid.nbMemo.keys.filter(_.contains(dir))
      assert(keys2.size == 1 &&
        keys2.map(fpOf).intersect(keys1.map(fpOf)).isEmpty,
        s"superseded fingerprint must be evicted: $keys1 -> $keys2")
      val deadline = System.currentTimeMillis() + 60000
      var now = blocks
      while (now > genOne && System.currentTimeMillis() < deadline) {
        System.gc(); Thread.sleep(250); now = blocks
      }
      assert(now <= genOne,
        s"regeneration must not accumulate planes: $base/$genOne/$now")
    }
  }

  test("the hot word's attach rows spread across >1 shuffle partition " +
      "where the plain word join serializes them into one") {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val df = {
      import s.implicits._
      hotCorpus.toDF("doc_id", "lang", "text")
    }
    val train = df.where(col("doc_id") % 5 =!= 0)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
    val cnt = train.groupBy("lang", "word")
      .agg(count(lit(1)).cast("long").as("n"))
    val wsc = NbLangid
      .withIlog(cnt.withColumn("m", col("n") + 1L), "m", "ilog_w")
      .select("lang", "word", "ilog_w")
    val plane = NbLangid.wordScorePlane(wsc)
    val ev = df.where(col("doc_id") % 5 === 0)
      .select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("word"))
      .where(col("word") =!= "")
    val saltedParts = Skew
      .hotSaltedJoin(ev, plane, "word", NbLangid.hotWords(cnt),
        col("doc_id"))
      .where(col("word") === "zz")
      .select(spark_partition_id().as("p")).distinct().count()
    val plainParts = ev.join(plane, "word")
      .where(col("word") === "zz")
      .select(spark_partition_id().as("p")).distinct().count()
    assert(plainParts == 1,
      "unsalted shuffle join must co-locate the hot word")
    assert(saltedParts > 1,
      s"salted attach must spread the hot word, got $saltedParts")
  }
}
