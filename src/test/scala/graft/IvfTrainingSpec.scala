package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** IVF and PQ training against a driver-side reference Lloyd over the
  * collected vectors (same seed rows, same tie rules), the job shape of
  * a training run, and IVF-PQ recall once the cell count follows the
  * corpus size. */
class IvfTrainingSpec extends SparkSpec {
  import spark.implicits._

  /** 1,200 clustered 8-d vectors over 6 partitions (`prepared` keeps
    * them as they are). The second IVF seed row is a copy of the first,
    * so the first round has two identical centroids: every row ties
    * between them and must go to the higher id, which leaves the lower
    * one empty. */
  private lazy val input: DataFrame = {
    val seedIds = spark.range(0, 1200).orderBy(xxhash64(col("id")), col("id"))
      .limit(2).as[Long].collect()
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(10, 8)(rnd.nextGaussian())
    val vecs = Array.fill(1200) {
      centers(rnd.nextInt(centers.length)).map(_ + 0.3 * rnd.nextGaussian())
    }
    vecs(seedIds(1).toInt) = vecs(seedIds(0).toInt)
    val rows = vecs.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 6))
      .toDF("vec_id", "embedding")
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var d = 0
    while (d < a.length) { s += a(d) * b(d); d += 1 }
    s
  }

  /** argmax dot product, ties to the higher centroid */
  private def nearestCentroid(v: Array[Double], cents: Array[Array[Double]]): Int =
    cents.indices.foldLeft(0)((best, c) =>
      if (dot(v, cents(c)) >= dot(v, cents(best))) c else best)

  /** argmin squared L2 over one subspace, ties to the lower code */
  private def nearestCode(r: Array[Double], from: Int, book: Array[Array[Double]]): Int = {
    def d2(j: Int) = book(j).indices.map { d => val x = r(from + d) - book(j)(d); x * x }.sum
    book.indices.foldLeft(0)((best, j) => if (d2(j) < d2(best)) j else best)
  }

  /** Lloyd rounds on the driver: `assign` maps a row to its (cell,
    * value) contributions under the current cells; a cell moves to the
    * mean of its values, and an empty cell keeps its old value. */
  private def referenceLloyd(rows: Seq[Array[Double]], init: Array[Array[Double]],
                             iterations: Int)
                            (assign: (Array[Array[Double]], Array[Double]) =>
                              Seq[(Int, Array[Double])]): Array[Array[Double]] =
    (0 until iterations).foldLeft(init) { (cur, _) =>
      val members = rows.flatMap(assign(cur, _)).groupBy(_._1)
      cur.indices.map { c =>
        members.get(c).fold(cur(c))(ms => ms.map(_._2).transpose.map(_.sum / ms.size).toArray)
      }.toArray
    }

  private def assertClose(got: Seq[Array[Double]], want: Seq[Array[Double]]): Unit = {
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) =>
      assert(g.length == w.length)
      g.zip(w).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-12, s"$a vs $b") }
    }
  }

  private def cells(e: DataFrame, cents: Seq[Array[Double]]): Set[(Long, Int)] =
    Similarity.cellAssignments(e, cents, 2).as[(Long, Int)].collect().toSet

  test("IVF training matches a driver-side Lloyd (explicit k and k = 0)") {
    val e = Similarity.prepared(input)
    assert(e.rdd.getNumPartitions == 6)
    val vecs = e.select("v").as[Array[Double]].collect().toSeq
    for ((k, cellCount) <- Seq((12, 12), (0, Similarity.autoCells(1200)))) {
      val seeds = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(cellCount)
        .select("v").as[Array[Double]].collect()
      assert(seeds(0).sameElements(seeds(1)), "fixture: the first two seeds must be equal")
      val want = referenceLloyd(vecs, seeds, 3)((cur, v) => Seq((nearestCentroid(v, cur), v)))
      val got = Similarity.trainIvfCentroids(e, k)
      assertClose(got, want.toSeq)
      assert(cells(e, got) == cells(e, want.toSeq), s"k=$k")
    }
    // the tie sends every row to the higher twin; the empty lower twin
    // keeps its seed value
    val seed0 = e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(1)
      .select("v").as[Array[Double]].head()
    val one = Similarity.trainIvfCentroids(e, 12, iterations = 1)
    assert(one(0).sameElements(seed0) && !one(1).sameElements(seed0))
  }

  test("PQ codebooks match a driver-side Lloyd over the residuals") {
    val (m, kSub) = (4, 8)
    val e = Similarity.prepared(input)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val model = Similarity.trainIvfPq(e, 0, m, kSub)
      val subDim = model.centroids(0).length / m
      val residual: Map[Long, (Int, Array[Double])] =
        e.select("vec_id", "v").as[(Long, Array[Double])].collect().map { case (id, v) =>
          val c = nearestCentroid(v, model.centroids)
          id -> (c, v.indices.map(d => v(d) - model.centroids(c)(d)).toArray)
        }.toMap
      val seeds = e.select("vec_id")
        .orderBy(xxhash64(col("vec_id"), lit(1)), col("vec_id")).limit(kSub)
        .as[Long].collect().map(residual(_)._2)
      val init = Array.tabulate(m * kSub) { x =>
        val (i, j) = (x / kSub, x % kSub)
        seeds(j % seeds.length).slice(i * subDim, (i + 1) * subDim)
      }
      def books(flat: Array[Array[Double]]) = flat.grouped(kSub).toArray
      val want = books(referenceLloyd(residual.values.map(_._2).toSeq, init, 3) { (cur, r) =>
        val b = books(cur)
        (0 until m).map(i => (i * kSub + nearestCode(r, i * subDim, b(i)),
          r.slice(i * subDim, (i + 1) * subDim)))
      })
      assertClose(model.codebooks.flatten.toSeq, want.flatten.toSeq)
      val gotCodes = model.codes.select("vec_id", "centroid_id", "codes")
        .as[(Long, Int, Array[Int])].collect()
        .map { case (id, c, codes) => (id, c, codes.toSeq) }.toSet
      val wantCodes = residual.map { case (id, (c, r)) =>
        (id, c, (0 until m).map(i => nearestCode(r, i * subDim, want(i))))
      }.toSet
      assert(gotCodes == wantCodes)
      model.residuals.unpersist(false)
    } finally e.unpersist(false)
  }

  /** Jobs fired and shuffle bytes written by `body`, counted over its
    * own job group. A sentinel job in a second group flushes the async
    * listener bus: events arrive in order, so once the sentinel has
    * ended, every event of `body` has been seen. */
  private def jobsAndShuffleBytes(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"ivf-train-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val bytes = new java.util.concurrent.atomic.AtomicLong(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val sentinelJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) { jobs.incrementAndGet(); js.stageIds.foreach(stages.add(_)) }
        else if (g == s"$group-end") sentinelJob.set(js.jobId)
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        if (stages.contains(s.stageInfo.stageId))
          bytes.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (je.jobId == sentinelJob.get()) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "training under test")
      body
      sc.setJobGroup(s"$group-end", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    (jobs.get(), bytes.get())
  }

  test("Lloyd training: at most iterations + 2 jobs and no shuffle") {
    val e = Similarity.prepared(input)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      e.count()
      for (r <- Seq(1, 3, 5); k <- Seq(0, 12)) {
        val (jobs, shuffled) = jobsAndShuffleBytes {
          Similarity.trainIvfCentroids(e, k, iterations = r)
        }
        // k = 0 adds the sizing count to the seed pass and the rounds
        assert(jobs <= r + (if (k == 0) 2 else 1), s"r=$r k=$k: $jobs jobs")
        assert(shuffled == 0L, s"r=$r k=$k: $shuffled shuffle bytes")
      }
      // IVF-PQ: coarse count + seeds + 3 rounds, then PQ seeds + 3 rounds
      val (jobs, shuffled) = jobsAndShuffleBytes {
        Similarity.trainIvfPq(e, 0, 4, 8).residuals.unpersist(false)
      }
      assert(jobs <= 9 && shuffled == 0L, s"IVF-PQ: $jobs jobs, $shuffled bytes")
    } finally e.unpersist(false)
  }

  test("IVF-PQ recall@10 >= 0.5 on 40k clustered vectors (cells sized by autoCells)") {
    // 64 clusters, each a random 3-d patch in 32 dims plus a little
    // isotropic noise. With 16 cells the coarse residuals are as wide
    // as the clusters and PQ ranks badly (recall about 0.3); autoCells
    // gives 625 cells here.
    val rnd = new scala.util.Random(7)
    val (n, dim, latent) = (40000, 32, 3)
    val centers = Array.fill(64, dim)(rnd.nextGaussian())
    val bases = Array.fill(64, latent, dim)(0.3 * rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = rnd.nextInt(64)
      val z = Array.fill(latent)(rnd.nextGaussian())
      (i.toLong, Array.tabulate(dim) { d =>
        centers(c)(d) + (0 until latent).map(l => z(l) * bases(c)(l)(d)).sum +
          0.02 * rnd.nextGaussian()
      }.toSeq)
    }
    val emb = spark.createDataFrame(spark.sparkContext.parallelize(rows, 8))
      .toDF("vec_id", "embedding")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val isQuery = col("vec_id") < 50
      val brute = Similarity.knnBrute(emb, isQuery, k = 10)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      val pq = Similarity.knnIvfPq(emb, isQuery, k = 10)
        .select("q_id", "n_id").as[(Long, Long)].collect().toSet
      assert(brute.size == 500)
      val recall = pq.intersect(brute).size.toDouble / brute.size
      assert(recall >= 0.5, s"IVF-PQ recall@10 $recall at ${Similarity.autoCells(n)} cells")
    } finally emb.unpersist(false)
  }
}
