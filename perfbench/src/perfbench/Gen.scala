package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded input generators. Every input of every workload is a pure
  * function of the seed (SplittableRandom is specified bit-for-bit), so
  * the same seed gives byte-identical inputs on any JVM. */
object Gen {
  final case class Doc(id: Long, text: String)

  /** The corpus: documents and, per document, its embedding. */
  final case class Corpus(docs: Vector[Doc], vectors: Array[Array[Double]],
      vocab: Vector[String]) {
    def digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      docs.foreach(d => md.update(s"${d.id}\t${d.text}\n".getBytes(UTF_8)))
      val bb = java.nio.ByteBuffer.allocate(8)
      vectors.foreach(_.foreach { x =>
        bb.clear(); bb.putDouble(x); md.update(bb.array())
      })
      hex(md.digest())
    }
  }

  final case class CorpusShape(docs: Int, minWords: Int = 12, maxWords: Int = 420,
      vocabSize: Int = 4000, dim: Int = 16, clusters: Int = 16)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** Distinct lower-case words of 3 to 9 letters. */
  def vocabulary(rnd: SplittableRandom, n: Int): Vector[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 3 + rnd.nextInt(7)
      seen += Iterator.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toVector
  }

  /** Zipf(1.0) rank sampler over `n` ranks. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val s = w.sum
      var acc = 0.0
      w.map { x => acc += x / s; acc }
    }
    def sample(rnd: SplittableRandom): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** Documents of log-uniform length (short to long) with Zipf words,
    * each with a clustered embedding. */
  def corpus(seed: Long, shape: CorpusShape): Corpus = {
    val rnd = new SplittableRandom(seed ^ 0x5eedc0a9L)
    val vocab = vocabulary(rnd.split(), shape.vocabSize)
    val zipf = new Zipf(vocab.size)
    val lnMin = math.log(shape.minWords.toDouble)
    val lnMax = math.log(shape.maxWords.toDouble)
    val docs = Vector.tabulate(shape.docs) { i =>
      val n = math.exp(lnMin + rnd.nextDouble() * (lnMax - lnMin)).toInt
      Doc(i.toLong, Vector.fill(n)(vocab(zipf.sample(rnd))).mkString(" "))
    }
    Corpus(docs, embeddings(seed, shape.docs, shape.dim, shape.clusters), vocab)
  }

  /** Clustered Gaussian embeddings: `clusters` centres spread with
    * sd 4, points with unit sd around a uniformly chosen centre. */
  def embeddings(seed: Long, n: Int, dim: Int, clusters: Int): Array[Array[Double]] = {
    val rnd = new SplittableRandom(seed ^ 0x0e3bedL)
    val centres = Array.fill(clusters, dim)(gauss(rnd) * 4.0)
    Array.fill(n) {
      val c = centres(rnd.nextInt(clusters))
      Array.tabulate(dim)(j => c(j) + gauss(rnd))
    }
  }

  /** ANN query vectors from the same mixture as the corpus. */
  def annQueries(seed: Long, n: Int, dim: Int, clusters: Int): Array[Array[Double]] = {
    val rnd = new SplittableRandom(seed ^ 0x0e3bedL)
    val centres = Array.fill(clusters, dim)(gauss(rnd) * 4.0)
    val q = new SplittableRandom(seed ^ 0x9e3779b9L)
    Array.fill(n) {
      val c = centres(q.nextInt(clusters))
      Array.tabulate(dim)(j => c(j) + gauss(q))
    }
  }

  private def gauss(rnd: SplittableRandom): Double = {
    // Box–Muller on two uniforms, so the stream is fully specified
    val u1 = 1.0 - rnd.nextDouble()
    val u2 = rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** Documents for the serve workload's appends: fixed ids above the
    * corpus, text drawn from the corpus vocabulary. */
  def appendDocs(seed: Long, vocab: Vector[String], firstId: Long, n: Int,
      words: Int): Vector[Doc] = {
    val rnd = new SplittableRandom(seed ^ 0xa99e2dL)
    val zipf = new Zipf(vocab.size)
    Vector.tabulate(n)(i => Doc(firstId + i,
      Vector.fill(words)(vocab(zipf.sample(rnd))).mkString(" ")))
  }

  /** BM25 query term lists at fixed Zipf ranks (frequent, middling and
    * rare terms), so every seed probes posting lists of the same shape. */
  def bm25Queries(vocab: Vector[String]): Vector[Vector[String]] = {
    val rankSets = Vector(Vector(9, 120), Vector(15, 300, 900), Vector(40, 60),
      Vector(25, 250, 2500))
    rankSets.map(_.map(vocab))
  }

  /** The event stream's ledger entry for one emitted message. */
  final case class Event(eventId: Long, kind: String, user: Int, value: Double)

  /** Seeded event stream: new events in id order, a `dupShare` of them
    * re-delivered (same bytes, same creation stamp) `dupLagMin..dupLagMax`
    * positions later, and a `heartbeatShare` of heartbeat events the
    * handler filters out. `next(nowMs)` returns the message at the next
    * stream position: its event, its creation stamp (`nowMs` for a new
    * event) and whether the position is a re-delivery. */
  final class EventStream(seed: Long, dupShare: Double = 0.05,
      heartbeatShare: Double = 0.1, dupLagMin: Int = 200, dupLagMax: Int = 2000) {
    private val rnd = new SplittableRandom(seed ^ 0xe7e27L)
    private var nextId = 0L
    private var pos = 0L
    private val pending =
      scala.collection.mutable.PriorityQueue.empty[(Long, Event, Long)](
        Ordering.by[(Long, Event, Long), Long](_._1).reverse)
    def next(nowMs: Long): (Event, Long, Boolean) = {
      val out =
        if (pending.nonEmpty && pending.head._1 <= pos) {
          val (_, e, ts) = pending.dequeue()
          (e, ts, true)
        } else {
          val kind =
            if (rnd.nextDouble() < heartbeatShare) "heartbeat"
            else if (rnd.nextBoolean()) "click" else "view"
          val e = Event(nextId, kind, rnd.nextInt(5000),
            math.floor(rnd.nextDouble() * 1e6) / 100.0)
          nextId += 1
          if (rnd.nextDouble() < dupShare)
            pending.enqueue(
              (pos + dupLagMin + rnd.nextInt(dupLagMax - dupLagMin), e, nowMs))
          (e, nowMs, false)
        }
      pos += 1
      out
    }

    /** The re-deliveries still pending, now, in due order: a phase that
      * ends (a drain burst, a halted open loop) delivers its own copies,
      * so no copy outlives the dedup watermark in a gap between phases. */
    def flush(): Vector[(Event, Long)] = {
      val out = Vector.newBuilder[(Event, Long)]
      while (pending.nonEmpty) {
        val (_, e, ts) = pending.dequeue()
        out += ((e, ts))
        pos += 1
      }
      out.result()
    }
  }

  def eventJson(e: Event, tsMs: Long): String =
    s"""{"event_id":${e.eventId},"ts":$tsMs,"kind":"${e.kind}","user":${e.user},"value":${e.value}}"""
}
