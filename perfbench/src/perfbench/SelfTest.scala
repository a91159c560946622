package perfbench

/** Tests of the generators and checkers, no Spark needed: the same seed
  * gives byte-identical inputs, and each checker accepts the right
  * answer and rejects a planted fault. Exits nonzero on any failure. */
object SelfTest {
  private var failures = 0

  private def expect(name: String, cond: Boolean): Unit = {
    println(s"${if (cond) "ok  " else "FAIL"} $name")
    if (!cond) failures += 1
  }

  def main(args: Array[String]): Unit = {
    val shape = Serve.Shape.copy(docs = 600)
    val a = Gen.corpus(7L, shape)
    expect("same seed, byte-identical corpus and embeddings",
      a.digest == Gen.corpus(7L, shape).digest)
    expect("another seed, another corpus", a.digest != Gen.corpus(8L, shape).digest)
    def events(seed: Long) = {
      val s = new Gen.EventStream(seed)
      (0 until 20000).map(i => s.next(i.toLong)).map { case (e, ts, dup) =>
        Gen.eventJson(e, ts) + dup }.mkString("\n")
    }
    expect("same seed, byte-identical event stream", events(7L) == events(7L))
    expect("another seed, another event stream", events(7L) != events(8L))

    // sink rows
    val ids = (0L until 1000L).toVector
    expect("sink: every id once passes", Checks.sinkRows(ids, ids.toArray).ok)
    expect("sink: a dropped row fails", !Checks.sinkRows(ids, ids.tail.toArray).ok)
    expect("sink: a duplicated row fails", !Checks.sinkRows(ids, (ids :+ 5L).toArray).ok)

    // BM25
    val ref = new Checks.Bm25Ref()
    a.docs.foreach(d => ref.add(d.id, d.text))
    val terms = Gen.bm25Queries(a.vocab).head
    val all = ref.scores(terms)
    val top = ref.top(terms, 10)
    expect("bm25: the reference top-10 passes", Checks.topK("bm25", top, top, all).ok)
    expect("bm25: a score off by 1e-6 fails", !Checks.topK("bm25",
      top.updated(3, (top(3)._1, top(3)._2 + 1e-6)), top, all).ok)
    ref.remove(top.head._1)
    expect("bm25: a deleted document changes the answer",
      ref.top(terms, 10).head._1 != top.head._1)

    // IVFADC
    val vecs = a.vectors
    val cb: Array[Array[Array[Double]]] = Array.tabulate(8, 4) { (s, c) =>
      vecs(s * 4 + c).slice(s * 2, s * 2 + 2) }
    val adc = new Checks.AdcRef(cb)
    val q = Gen.annQueries(7L, 2, shape.dim, shape.clusters)
    val idList = a.docs.map(_.id)
    val vecOf = idList.zip(vecs).toMap
    def codeOf(id: Long) = adc.code(vecOf(id))
    val exact = q.indices.map { qi =>
      (qi, idList.sortBy(id => (Checks.l2(q(qi), vecOf(id)), id)).take(10)
        .map(id => (id, adc.dist(q(qi), codeOf(id)))).sortBy(_._2))
    }
    expect("ann: exact neighbours ordered by their ADC distance pass",
      Checks.ann(exact, q, vecOf, idList, adc, codeOf, 10, 0.9).ok)
    val (q0, l0) = exact.head
    // swap the ids of two neighbours whose ADC distances differ
    val j = l0.indexWhere(_._2 != l0(0)._2)
    val swapped = l0.indices.map { i =>
      if (i == 0) (l0(j)._1, l0(0)._2) else if (i == j) (l0(0)._1, l0(j)._2) else l0(i) }
    expect("ann: a swapped neighbour fails",
      !Checks.ann(exact.updated(0, (q0, swapped)), q, vecOf, idList, adc, codeOf, 10, 0.9).ok)
    expect("ann: recall below the floor fails",
      !Checks.ann(exact, q, vecOf, idList, adc, codeOf, 10, 1.01).ok)

    // the metrics the benchmark prints are the ones BENCHMARK.json declares
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(args.headOption.getOrElse("BENCHMARK.json")))
    def declared(key: String) = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    expect("end-to-end metrics match BENCHMARK.json", declared("end_to_end") == Main.EndToEnd)
    expect("per-layer metrics match BENCHMARK.json", declared("per_layer") == Main.PerLayer)
    expect("workloads match BENCHMARK.json", {
      val it = spec.get("workloads").elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().get("name").asText()).toSeq ==
        Main.Workloads
    })

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
