package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import graft.enrich.Enrich
import graft.harmonize.Harmonize
import graft.multimodal.Multimodal
import graft.sources.{EventsAdapter, OrdersAdapter}

class EnrichSpec extends SparkSpec {
  import spark.implicits._

  lazy val props = Harmonize
    .brick(spark, sf(), Seq(EventsAdapter, OrdersAdapter)).properties

  test("cachedLabel computes misses once, then serves from the cache table") {
    val dir = Files.createTempDirectory("graft-cache").toString + "/cache"
    val calls = EnrichSpec.calls
    calls.set(0)
    val counting = new Enrich.Labeler {
      def label(j: String): Seq[(String, String, Double)] = {
        EnrichSpec.calls.incrementAndGet()
        Enrich.RuleLabeler.label(j)
      }
    }
    val first = Enrich.cachedLabel(spark, props, counting, dir)
    val nProps = props.select("pid").distinct().count()
    val firstCount = first.count()
    val callsAfterFirst = calls.get()
    assert(callsAfterFirst == nProps, "every property labeled once")

    val second = Enrich.cachedLabel(spark, props, counting, dir)
    assert(second.count() == firstCount)
    assert(calls.get() == callsAfterFirst, "second pass is all cache hits")
  }

  test("out-of-vocabulary labels are rejected after the retry protocol") {
    // the reference constrains categories to a closed resource list and
    // raises after <=3 failed parses (src/helper/cache_helper.py:26-44)
    val dir = Files.createTempDirectory("graft-vocab").toString + "/cache"
    val rogue = new Enrich.Labeler {
      def label(j: String): Seq[(String, String, Double)] =
        Seq(("made-up-category", "not in vocabulary", 1.0))
    }
    val ex = intercept[Exception] {
      Enrich.cachedLabel(spark, props, rogue, dir).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("out-of-vocabulary")), ex.toString)
  }

  test("RuleLabeler emits only closed-vocabulary categories") {
    val cats = props.select("data").distinct().collect()
      .flatMap(r => Enrich.RuleLabeler.label(r.getString(0)))
      .map(_._1).toSet
    assert(cats.subsetOf(Enrich.vocabulary), cats -- Enrich.vocabulary)
    assert(Enrich.vocabularyTable(spark).count() == Enrich.vocabulary.size)
  }

  test("a stochastic labeler that recovers within maxAttempts succeeds") {
    val dir = Files.createTempDirectory("graft-vocab2").toString + "/cache"
    // first call per property JSON drifts out of vocabulary, the retry
    // lands in it; the drift set lives in the companion object, so the
    // labeler copies the tasks deserialize all record into it
    val drifted = EnrichSpec.drifted
    drifted.clear()
    val flaky = new Enrich.Labeler {
      def label(j: String): Seq[(String, String, Double)] =
        if (EnrichSpec.drifted.add(j))
          Seq(("hallucinated", "first attempt", 0.0))
        else Enrich.RuleLabeler.label(j)
    }
    val out = Enrich.cachedLabel(spark, props, flaky, dir)
    assert(out.count() > 0)
    val cats = out.select("category").distinct().collect()
      .map(_.getString(0)).toSet
    assert(cats.subsetOf(Enrich.vocabulary))
    // every labeled property's first attempt drifted and was retried
    assert(drifted.size == props.select("data").distinct().count(),
      drifted.size)
  }

  test("titles are globally unique and deterministic") {
    val t1 = Enrich.titles(props)
    val t2 = Enrich.titles(props)
    assert(t1.count() == t1.select("title").distinct().count())
    assert(t1.exceptAll(t2).count() == 0)
  }

  test("media decode pipeline is deterministic and keeps one row per doc") {
    implicit val s = spark
    val docs = Tables.documents(spark, sf())
    val feats = Multimodal.decodeFeatures(Multimodal.toMedia(docs)).toDF()
    assert(feats.count() == docs.count())
    assert(feats.select("doc_id").distinct().count() == docs.count())
    // fingerprint matches an independent md5 of the same bytes
    val cross = feats.join(docs, Seq("doc_id"))
      .withColumn("expected_fp", md5(col("text").cast("binary")))
    assert(cross.filter(col("fingerprint") =!= col("expected_fp")).count() == 0)
  }

  test("frame sampling fans out only videos, 1..4 frames at 40ms stride") {
    implicit val s = spark
    val media = Multimodal.toMedia(Tables.documents(spark, sf()))
    val frames = Multimodal.frameSample(media).toDF()
    val videos = media.filter(_.kind == "video").count()
    val perDoc = frames.groupBy("doc_id").count()
    assert(perDoc.count() == videos)
    assert(perDoc.filter(col("count") < 1 || col("count") > 4).count() == 0)
    // ts stride: frame i at i*40ms
    assert(frames.filter(col("ts_ms") =!= col("frame_idx") * 40).count() == 0)
    // one fingerprint per (doc, frame); global fp uniqueness would be
    // data-dependent (duplicate texts share fingerprints by design)
    assert(frames.select("doc_id", "frame_idx").distinct().count()
      == frames.count())
    val perDocFp = frames.groupBy("doc_id")
      .agg(countDistinct("fingerprint").as("nfp"), count(lit(1)).as("nf"))
    assert(perDocFp.filter(col("nfp") =!= col("nf")).count() == 0)
  }

  test("resize clamps the largest side and preserves aspect ordering") {
    implicit val s = spark
    val feats = Multimodal.decodeFeatures(
      Multimodal.toMedia(Tables.documents(spark, sf())))
    val resized = Multimodal.resize(feats, 128).toDF()
    assert(resized.filter(col("width") > 128 || col("height") > 128)
      .count() == 0)
    // untouched when already within bounds
    val joined = feats.toDF().select(col("doc_id"),
        col("width").as("w0"), col("height").as("h0"))
      .join(resized.select(col("doc_id"), col("width"), col("height")),
        Seq("doc_id"))
    assert(joined.filter(col("w0") <= 128 && col("h0") <= 128 &&
      (col("width") =!= col("w0") || col("height") =!= col("h0")))
      .count() == 0)
    // aspect: the relative order of width vs height survives
    assert(joined.filter((col("w0") > col("h0")) &&
      (col("width") < col("height"))).count() == 0)
  }
}

object EnrichSpec {
  val calls = new AtomicInteger(0)
  val drifted: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
}
