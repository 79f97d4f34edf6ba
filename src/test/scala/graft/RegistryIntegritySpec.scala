package graft

/** Registry-level invariants that a Map `++` union would otherwise
  * hide: a duplicate key across two family objects silently SHADOWS
  * the earlier query — the union compiles, Verify runs, and one
  * operator quietly disappears from the surface. All but the last test
  * are pure map arithmetic and need no Spark session; the last checks
  * the hand-kept cache maps against what [[SessionMemo]] observes.
  */
class RegistryIntegritySpec extends SparkTestBase {

  private val families: Seq[(String, Map[String, _], Map[String, _])] = Seq(
    ("Reference", QueriesReference.queries, QueriesReference.oracle),
    ("Relational", QueriesRelational.queries, QueriesRelational.oracle),
    ("Text", QueriesText.queries, QueriesText.oracle),
    ("Dedup", QueriesDedup.queries, QueriesDedup.oracle),
    ("Vector", QueriesVector.queries, QueriesVector.oracle),
    ("Streaming", QueriesStreaming.queries, QueriesStreaming.oracle),
    ("Functions", QueriesFunctions.queries, QueriesFunctions.oracle),
    ("Sketch", QueriesSketch.queries, QueriesSketch.oracle),
    ("Curation", QueriesCuration.queries, QueriesCuration.oracle),
    ("Events", QueriesEvents.queries, QueriesEvents.oracle),
    ("Graph", QueriesGraph.queries, QueriesGraph.oracle),
    ("Timeseries", QueriesTimeseries.queries, QueriesTimeseries.oracle),
    ("Profile", QueriesProfile.queries, QueriesProfile.oracle),
    ("Sql", QueriesSql.queries, QueriesSql.oracle),
    ("Storage", QueriesStorage.queries, QueriesStorage.oracle),
    ("Ml", QueriesMl.queries, QueriesMl.oracle))

  test("no query key is shadowed across family objects") {
    val all = families.flatMap { case (f, qs, _) => qs.keys.map(_ -> f) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty,
      s"duplicate registry keys (later family shadows earlier): " +
        s"${dups.map { case (k, fs) => s"$k in ${fs.map(_._2)}" }}")
    assert(SparkEntry.queries.size == all.size,
      "union size must equal the sum of family sizes")
  }

  test("no oracle key is shadowed, and every oracle has a query") {
    val all = families.flatMap { case (f, _, os) => os.keys.map(_ -> f) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"duplicate oracle keys: ${dups.keys}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty,
      s"oracles with no registered query: $orphans")
  }

  test("every registered query is oracle-backed (full driver coverage)") {
    // The driver's correctness gate only scores queries ∩ oracles;
    // a query without an oracle silently downgrades to a weaker
    // rows-only check. The registry's contract is FULL coverage.
    val unbacked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unbacked.isEmpty, s"queries without oracles: $unbacked")
  }

  test("shared-cache registry: unique names, family-prefixed") {
    // Bench keys its [bench-cache] lines and the BENCH_DETAIL caches
    // map by these names — a duplicate would silently drop a timing;
    // an unprefixed name would collide with query short-keys in the
    // baseline regex.
    val names = SparkEntry.sharedCaches.map(_._1)
    assert(names.distinct == names, s"duplicate cache names: $names")
    assert(names.forall(_.matches("[a-z]+\\.[a-z0-9_]+")),
      s"cache names must be family.member: $names")
  }

  test("cache consumer/dependency maps agree with the registry") {
    // Bench's subset filtering (sharedCachesFor) forces a cache iff a
    // selected query consumes it (transitively) — a renamed query or
    // cache here would silently stop forcing a build and the r13
    // attribution-drift class returns. Pin all three name spaces.
    val cacheNames = SparkEntry.sharedCaches.map(_._1).toSet
    val direct = SparkEntry.cacheDirectConsumers
    assert(direct.keySet == cacheNames,
      s"consumer map vs cache registry: ${direct.keySet diff cacheNames} / ${cacheNames diff direct.keySet}")
    val unknownQ = direct.values.flatten.toSet -- SparkEntry.queries.keySet
    assert(unknownQ.isEmpty, s"consumers not in registry: $unknownQ")
    val depNames = SparkEntry.cacheDeps.keySet ++
      SparkEntry.cacheDeps.values.flatten
    assert((depNames -- cacheNames).isEmpty,
      s"cacheDeps names not in cache registry: ${depNames -- cacheNames}")
    // every cache is reachable by SOME query, else it can never be
    // forced and its build lands on a member query's first run
    val unreachable = cacheNames.filter(c =>
      SparkEntry.sharedCachesFor(SparkEntry.queries.keySet)
        .forall(_._1 != c))
    assert(unreachable.isEmpty, s"caches no query consumes: $unreachable")
    // and the full selection forces the full list, in registry order
    assert(SparkEntry.sharedCachesFor(SparkEntry.queries.keySet)
      .map(_._1) == SparkEntry.sharedCaches.map(_._1))
  }

  test("family key prefixes are contiguously numbered") {
    // A gap (sql10 → sql12) reads as a missing query to any auditor
    // — the r11 verdict's numbering-hygiene item, now pinned.
    // 'p' is exempt: its keys mirror the REFERENCE's operator ids
    // (p1_p6 covers P1–P6 in one query, p8_p10 likewise), so its
    // numbering is the reference table's, not a sequence.
    val byPrefix = SparkEntry.queries.keySet.toSeq
      .map(_.split("_")(0))
      .groupBy(_.takeWhile(!_.isDigit))
      .filter { case (p, ks) => p != "p" && ks.exists(_.exists(_.isDigit)) }
    for ((prefix, keys) <- byPrefix) {
      val nums = keys.map(_.dropWhile(!_.isDigit).toInt).sorted
      val expected = (nums.min to nums.max).toSeq
      assert(nums == expected,
        s"family '$prefix' numbering has gaps: $nums")
    }
  }

  test("every query builds only caches its sharedCachesFor entry forces") {
    // Bench forces sharedCachesFor(selected) before timing; a cache a
    // query builds outside that set lands its build on the query's
    // timing (the d24 mis-attribution). Run each query of the five
    // cache-defining families, plus every listed consumer, in a fresh
    // session with nothing forced, and compare the registry-named memo
    // entries it built with what the maps would force for it alone.
    val registry = SparkEntry.sharedCaches.map(_._1).toSet
    val names = (QueriesDedup.queries.keySet ++ QueriesText.queries.keySet ++
      QueriesVector.queries.keySet ++ QueriesEvents.queries.keySet ++
      QueriesGraph.queries.keySet ++
      SparkEntry.cacheDirectConsumers.values.flatten).toSeq.sorted
    val wrong = names.flatMap { q =>
      val s = spark.newSession()
      try {
        SparkEntry.queries(q)(s, sf0001).write.format("noop")
          .mode("overwrite").save()
        val built = SessionMemo.names(s, sf0001).intersect(registry)
        val forced = SparkEntry.sharedCachesFor(Set(q)).map(_._1).toSet
        val unforced = built -- forced
        if (unforced.isEmpty) None else Some(s"$q builds $unforced")
      } finally SessionMemo.release(s, sf0001)
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }
}
