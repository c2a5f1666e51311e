package graft

import graft.ops.{JaccardGraph, Normalize}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck-generator property tests (SURVEY.md §5.3): invariants that
  * must hold for ANY input, checked over deterministic generated corpora
  * (no scalatestplus bridge in the frozen deps — generators are sampled
  * with fixed seeds). Spark-touching properties keep the trial count
  * modest — each trial is a Spark job.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def trials[A](gen: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      body(gen.apply(Gen.Parameters.default.withSize(10), Seed(i.toLong))
        .getOrElse(fail(s"generator failed for seed $i")))
    }

  private val tagGen = Gen.oneOf("spark", "data", "ml", "läärm", "über", "graph", "ai", "sql")
  private val corpusGen: Gen[List[(String, List[String])]] =
    Gen.listOfN(8, for {
      id <- Gen.choose(1, 6)
      tags <- Gen.listOf(tagGen)
    } yield (id.toString, tags))

  test("jaccard weight ∈ (0,1], symmetric in construction, 1.0 on equal sets") {
    trials(corpusGen, 8) { corpus =>
      val userTags = corpus.toDF("id", "raw")
        .groupBy("id").agg(flatten(collect_list(col("raw"))).as("raw"))
        .select(col("id"), Normalize.normalizeTags(col("raw")).as("hts"))
      val rows = JaccardGraph.pairs(userTags, minShared = 1L).collect()
      rows.foreach { r =>
        val w = r.getAs[Double]("w")
        assert(w > 0.0 && w <= 1.0)
        // src > dst canonical orientation — no symmetric duplicates
        assert(r.getAs[String]("src") > r.getAs[String]("dst"))
        // w == 1 ⟺ identical sets (sizes equal the shared count)
        if (w == 1.0) {
          assert(r.getAs[Long]("n1") === r.getAs[Long]("shared"))
          assert(r.getAs[Long]("n2") === r.getAs[Long]("shared"))
        }
      }
    }
  }

  test("pairs ≡ brute-force set arithmetic on the same corpus") {
    trials(corpusGen, 8) { corpus =>
      val userTags = corpus.toDF("id", "raw")
        .groupBy("id").agg(flatten(collect_list(col("raw"))).as("raw"))
        .select(col("id"), Normalize.normalizeTags(col("raw")).as("hts"))
      val got = JaccardGraph.pairs(userTags, minShared = 2L).collect()
        .map(r => (r.getAs[String]("src"), r.getAs[String]("dst")) -> r.getAs[Double]("w")).toMap
      // driver-side brute force over the normalized sets
      val sets = userTags.collect()
        .map(r => r.getAs[String]("id") -> r.getSeq[String](1).toSet).toMap
      val expected = (for {
        a <- sets.keys; b <- sets.keys
        if a > b
        inter = (sets(a) & sets(b)).size
        if inter >= 2
      } yield (a, b) -> inter.toDouble / (sets(a) | sets(b)).size).toMap
      assert(got.keySet === expected.keySet)
      got.foreach { case (k, w) => assert(math.abs(w - expected(k)) < 1e-12) }
    }
  }

  test("size-carrying pairs ≡ pairsFromTagPairs on every column") {
    trials(corpusGen, 8) { corpus =>
      val userTags = corpus.toDF("id", "raw")
        .groupBy("id").agg(flatten(collect_list(col("raw"))).as("raw"))
        .select(col("id"), Normalize.normalizeTags(col("raw")).as("hts"))
      for (minShared <- Seq(1L, 2L)) {
        val sized = JaccardGraph.pairs(userTags, minShared)
        val exploded = JaccardGraph.pairsFromTagPairs(
          userTags.select(col("id"), explode(col("hts")).as("tag")), minShared)
        assert(sized.schema.map(f => f.name -> f.dataType) ===
          exploded.schema.map(f => f.name -> f.dataType))
        val got = sized.collect().map(_.toSeq)
        assert(got.length === got.distinct.length)
        assert(got.toSet === exploded.collect().map(_.toSeq).toSet, s"minShared=$minShared")
      }
    }
  }

  test("saltedTopK ≡ single-window top-k for any data and any salt count") {
    import graft.pipeline.Skew
    import org.apache.spark.sql.expressions.Window
    val rowsGen: Gen[List[(String, Long, Double)]] =
      Gen.listOfN(40, for {
        key <- Gen.oneOf("a", "b", "c")
        id <- Gen.choose(1L, 1000L)
        v <- Gen.choose(0, 100).map(_.toDouble)
      } yield (key, id, v))
    trials(rowsGen, 6) { rows =>
      // distinct ids: row_number needs a TOTAL order for a unique answer
      val df = rows.distinctBy(_._2).toDF("k", "id", "v")
      val order = Seq(col("v").desc, col("id").asc)
      for (salts <- Seq(1, 2, 32)) {
        val got = Skew.saltedTopK(df, col("k"), col("id"), 3, order, salts)
          .select("k", "id", "rank").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        val want = df.withColumn("rank", row_number().over(
            Window.partitionBy("k").orderBy(order: _*)).cast("long"))
          .filter(col("rank") <= 3)
          .select("k", "id", "rank").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        assert(got === want, s"salts=$salts rows=$rows")
      }
    }
  }

  test("saltedJoin ≡ plain equi-join for any data and any salt count") {
    import graft.pipeline.Skew
    val factGen: Gen[List[(Long, Long)]] =
      Gen.listOfN(50, for {
        id <- Gen.choose(1L, 1000L)
        k <- Gen.oneOf(1L, 2L, 2L, 2L, 3L) // deliberately skewed key
      } yield (id, k))
    trials(factGen, 6) { rows =>
      val fact = rows.distinctBy(_._1).toDF("id", "k")
      val dim = Seq((1L, "one"), (2L, "two"), (4L, "absent")).toDF("k", "name")
      for (salts <- Seq(1, 2, 16)) {
        val got = Skew.saltedJoin(fact, dim, "k", col("id"), salts)
          .select("id", "k", "name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        val want = fact.join(dim, Seq("k")).select("id", "k", "name").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
        assert(got === want, s"salts=$salts")
      }
    }
  }

  test("Ids.contiguous: dense 0..n-1, equals the global one-window answer, layout-invariant") {
    import graft.pipeline.Ids
    import org.apache.spark.sql.expressions.Window
    val idsGen: Gen[List[Long]] = Gen.listOfN(60, Gen.choose(0L, 5000L))
    trials(idsGen, 6) { raw =>
      val ids = raw.distinct
      val df = ids.toDF("doc_id")
      val got = Ids.contiguous(df, "doc_id").select("doc_id", "gid").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.withColumn("gid", row_number().over(
          Window.orderBy(md5(col("doc_id").cast("string")), col("doc_id"))).cast("long") - 1L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
      assert(got.values.toSeq.sorted === ids.indices.map(_.toLong))
      // stable under a different physical layout
      val re = Ids.contiguous(df.repartition(7), "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(re === got)
    }
  }

  test("normalizeTags is idempotent and output is sorted-distinct-lowercase") {
    trials(Gen.listOfN(12, tagGen), 10) { tags =>
      val df = Seq(Tuple1(tags)).toDF("raw")
      val once = df.select(Normalize.normalizeTags(col("raw")).as("n"))
      val twice = once.select(Normalize.normalizeTags(col("n")).as("n"))
      val a = once.collect().head.getSeq[String](0)
      val b = twice.collect().head.getSeq[String](0)
      assert(a === b)
      assert(a.toList === a.toList.sorted)
      assert(a.distinct === a)
      assert(a.forall(t => t == t.toLowerCase))
    }
  }

  private val wordGen = Gen.oneOf("ab", "cde", "f", "ghij", "kl", "mno", "p")
  private val docGen: Gen[List[String]] =
    Gen.choose(1, 24).flatMap(n => Gen.listOfN(n, wordGen))

  test("chunk: stride-prefix concatenation reconstructs the document exactly") {
    trials(Gen.listOfN(5, docGen), 6) { docs =>
      val window = 4; val stride = 2
      val df = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val chunks = graft.pipeline.Chunking.chunk(df, "doc_id", "text", window, stride)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .groupBy(_._1).map { case (id, cs) => id -> cs.sortBy(_._2).map(_._3) }
      for ((ws, i) <- docs.zipWithIndex) {
        val got = chunks(i.toLong)
        // every chunk is a verbatim window of the source at its stride offset
        got.zipWithIndex.foreach { case (c, k) =>
          assert(c === ws.slice(k * stride, k * stride + window).mkString(" "))
        }
        // first `stride` words of each chunk + the last chunk's tail = doc
        val rebuilt = got.dropRight(1).flatMap(_.split(" ").take(stride)) ++
          got.last.split(" ")
        assert(rebuilt.toList === ws)
      }
    }
  }

  test("CMS estimate ≥ exact count for every item in any corpus") {
    trials(Gen.listOfN(60, wordGen), 5) { terms =>
      val df = terms.toDF("term")
      val sketch = graft.pipeline.Sketches.cmsSketch(df, "term", 3, 8)
      val est = graft.pipeline.Sketches
        .cmsEstimate(sketch, terms.distinct.toDF("term"), "term", 3, 8)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val exact = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (t, c) => assert(est(t) >= c, s"$t: ${est(t)} < $c") }
      // total sketch mass is conserved per row
      assert(sketch.groupBy("r").sum("cnt").collect()
        .forall(_.getLong(1) === terms.size.toLong))
    }
  }

  test("stratifiedSample survivors are a subset invariant under union order and rate-monotone") {
    trials(Gen.listOfN(40, Gen.choose(0L, 10000L)), 5) { keys =>
      val df = keys.distinct.map(k => (k, if (k % 2 == 0) "a" else "b")).toDF("id", "source")
      def survivors(rates: Map[String, Int]) =
        graft.pipeline.Mix.stratifiedSample(df, "source", col("id"), rates, default = 0)
          .collect().map(_.getLong(0)).toSet
      val lo = survivors(Map("a" -> 20, "b" -> 50))
      val hi = survivors(Map("a" -> 60, "b" -> 90))
      assert(lo.subsetOf(hi), "raising every rate must only ADD survivors")
    }
  }
}
