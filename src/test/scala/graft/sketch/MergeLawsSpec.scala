package graft.sketch

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/**
 * ScalaCheck property tests for the merge algebra the distributed
 * engine rests on (north rule: "all sketches satisfy merge
 * associativity"): for ANY partitioning of ANY key multiset, merging
 * partial sketches must equal the sequential build — associativity,
 * commutativity, and (for idempotent structures) self-merge laws.
 */
class MergeLawsSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(
        org.scalacheck.rng.Seed(42L)), p)
    assert(res.passed, res.status.toString)
  }

  private val keys: Gen[List[String]] =
    Gen.listOfN(400, Gen.oneOf(
      Gen.alphaNumStr.map(s => "k" + s.take(12)),
      Gen.choose(0, 50).map(i => s"hot$i"))) // duplicates on purpose

  private val splits: Gen[(List[String], Int, Int)] = for {
    ks <- keys
    a <- Gen.choose(0, ks.length)
    b <- Gen.choose(0, ks.length)
  } yield (ks, math.min(a, b), math.max(a, b))

  private def bloomOf(ks: Seq[String]): BloomFilter = {
    val f = BloomFilter.create(2000L, 0.01)
    ks.foreach(k => f.addKey(k.getBytes(UTF_8)))
    f
  }

  private def bits(f: BloomFilter): Seq[Byte] = f.serialize().drop(512).toSeq

  test("bloom OR-merge: any 3-way split, any association/order == sequential bits; idempotent") {
    check(Prop.forAll(splits) { case (ks, i, j) =>
      val (p1, rest) = ks.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val seq = bits(bloomOf(ks))
      bits(bloomOf(p1).orInPlace(bloomOf(p2)).orInPlace(bloomOf(p3))) == seq &&
        bits(bloomOf(p1).orInPlace(bloomOf(p2).orInPlace(bloomOf(p3)))) == seq &&
        bits(bloomOf(p3).orInPlace(bloomOf(p1)).orInPlace(bloomOf(p2))) == seq &&
        bits(bloomOf(ks).orInPlace(bloomOf(ks))) == seq
    })
  }

  private def hllOf(ks: Seq[String]): Hll = {
    val h = Hll.create(10)
    ks.foreach(k => h.update(k.getBytes(UTF_8)))
    h
  }

  test("hll register-max merge: associative, commutative, idempotent (exact register equality)") {
    check(Prop.forAll(splits) { case (ks, i, j) =>
      val (p1, rest) = ks.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val seq = hllOf(ks).registers.toSeq
      hllOf(p1).merge(hllOf(p2)).merge(hllOf(p3)).registers.toSeq == seq &&
        hllOf(p3).merge(hllOf(p2).merge(hllOf(p1))).registers.toSeq == seq &&
        hllOf(ks).merge(hllOf(ks)).registers.toSeq == seq
    })
  }

  private def cmsOf(ks: Seq[String]): CountMin = {
    val c = CountMin.forGuarantee(0.01, 0.01)
    ks.foreach(k => c.update(k.getBytes(UTF_8)))
    c
  }

  test("cms cellwise-sum merge: associative, commutative, weight conserved (exact cells)") {
    check(Prop.forAll(splits) { case (ks, i, j) =>
      val (p1, rest) = ks.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val seq = cmsOf(ks)
      val m = cmsOf(p2).merge(cmsOf(p3)).merge(cmsOf(p1))
      m.counts.toSeq == seq.counts.toSeq && m.total == ks.length
    })
  }

  private val doubles: Gen[List[Double]] =
    Gen.listOfN(300, Gen.choose(-1e6, 1e6))

  test("kll merge: weight conserved; merged quantiles within combined rank-error envelope") {
    check(Prop.forAll(doubles, Gen.choose(0, 299)) { (xs, cut) =>
      xs.isEmpty || {
        val i = cut % xs.length
        val (a, b) = xs.splitAt(i)
        val merged = {
          val ka = Kll.create(200); a.foreach(ka.update(_))
          val kb = Kll.create(200); b.foreach(kb.update(_))
          ka.merge(kb)
        }
        val sorted = xs.sorted
        merged.n == xs.length &&
          Seq(0.1, 0.5, 0.9).forall { q =>
            val rank = sorted.count(_ <= merged.quantile(q)).toDouble / sorted.length
            math.abs(rank - q) <= 0.12
          }
      }
    })
  }

  test("tdigest merge: weight conserved; merged median within rank-error envelope") {
    check(Prop.forAll(doubles, Gen.choose(0, 299)) { (xs, cut) =>
      xs.isEmpty || {
        val i = cut % xs.length
        val (a, b) = xs.splitAt(i)
        val merged = {
          val ta = TDigest.create(100.0); a.foreach(ta.update(_))
          val tb = TDigest.create(100.0); b.foreach(tb.update(_))
          ta.merge(tb)
        }
        val sorted = xs.sorted
        val rank = sorted.count(_ <= merged.quantile(0.5)).toDouble / sorted.length
        merged.totalWeight == xs.length.toDouble && math.abs(rank - 0.5) <= 0.1
      }
    })
  }

  test("sbf merge: membership of both sides preserved; size bounded by insert count") {
    check(Prop.forAll(splits) { case (ks, i, _) =>
      val (a, b) = ks.splitAt(i)
      def sbfOf(xs: Seq[String]) = {
        val s = ScalableBloom.create(100L, 0.01, 4, 0.9)
        xs.foreach(k => s.add(k.getBytes(UTF_8)))
        s
      }
      val merged = sbfOf(a).mergeInPlace(sbfOf(b))
      ks.forall(k => merged.contains(k.getBytes(UTF_8))) && merged.size <= ks.length
    })
  }

  test("sbf merge of many same-rung partials packs layers exactly as the (count, bitsSet) ordering") {
    def partial(id: Int, n: Int) = {
      val s = ScalableBloom.create(100L, 0.01, 4, 0.9)
      (0 until n).foreach(i => s.add(s"p${id}_$i".getBytes(UTF_8)))
      s
    }
    // ten rung-0 partials: repeated counts (ties broken by bitsSet) and
    // sizes whose greedy packing under capacity 100 depends on order
    val sizes = Seq(40, 15, 60, 40, 25, 90, 15, 33, 60, 10)
    def partials = sizes.zipWithIndex.map { case (n, id) => partial(id, n) }
    // the reference ordering: the sort key recomputed per comparison
    val ref = partials
    assert(ref.forall(_.layers.map(_._1) == Seq(0)))
    val cap = ref.head.rungCapacity(0)
    val expected = scala.collection.mutable.ArrayBuffer.empty[BloomFilter]
    ref.map(_.layers.head._2).sortBy(f => (f.count, f.bitsSet)).foreach { f =>
      expected.lastOption match {
        case Some(last) if last.count + f.count <= cap => last.orInPlace(f)
        case _ => expected += f
      }
    }
    val (left, right) = partials.splitAt(5)
    def gather(ps: Seq[ScalableBloom]) = {
      val s = ps.head
      s.layers = scala.collection.mutable.ArrayBuffer.from(ps.flatMap(_.layers))
      s
    }
    val merged = gather(left).mergeInPlace(gather(right))
    assert(expected.size > 1)
    assert(merged.layers.map(_._1) == Seq.fill(expected.size)(0))
    assert(merged.layers.map(_._2.serialize().toSeq) == expected.map(_.serialize().toSeq))
  }

  test("lbf merge: multiplicity >= each side's count, <= true multiplicity sum") {
    check(Prop.forAll(splits) { case (ks, i, _) =>
      val (a, b) = ks.splitAt(i)
      def lbfOf(xs: Seq[String]) = {
        val l = LayeredBloom.create(1000L, 0.01)
        xs.foreach(k => l.add(k.getBytes(UTF_8)))
        l
      }
      val la = lbfOf(a); val lb = lbfOf(b)
      val countsA = ks.distinct.map(k => k -> la.count(k.getBytes(UTF_8))).toMap
      val countsB = ks.distinct.map(k => k -> lb.count(k.getBytes(UTF_8))).toMap
      val merged = la.mergeInPlace(lb)
      val trueMult = ks.groupBy(identity).view.mapValues(_.size)
      ks.distinct.forall { k =>
        val c = merged.count(k.getBytes(UTF_8))
        c >= math.max(countsA(k), countsB(k)) && c >= 1
      } && ks.distinct.forall { k =>
        // FP layers can only inflate; bounded by total layer count
        merged.count(k.getBytes(UTF_8)) <= merged.numLayers
      }
    })
  }

  private def mgOf(k: Int, ks: Seq[String]): FrequentItems = {
    val m = FrequentItems.create(k)
    ks.foreach(m.update(_))
    m
  }

  test("misra-gries merge: published guarantee holds for ANY split and merge order; exact when nothing truncates") {
    check(Prop.forAll(splits) { case (ks, i, j) =>
      val truth = ks.groupBy(identity).map { case (key, v) => (key, v.length.toLong) }
      val (p1, rest) = ks.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val k = 8
      // counters are merge-order-dependent, the GUARANTEE is not:
      // est <= true <= est + error and error <= n/(k+1) for every
      // association/commutation — the property Spark's completion-
      // order partial merges rely on
      val merged = Seq(
        mgOf(k, p1).merge(mgOf(k, p2)).merge(mgOf(k, p3)),
        mgOf(k, p1).merge(mgOf(k, p2).merge(mgOf(k, p3))),
        mgOf(k, p3).merge(mgOf(k, p1)).merge(mgOf(k, p2)))
      merged.forall { m =>
        m.total == ks.length &&
          m.error * (k + 1) <= m.total &&
          truth.forall { case (key, t) =>
            val e = m.estimate(key)
            e <= t && t <= e + m.error && (t <= m.error || e > 0)
          }
      } && {
        // with k >= distinct keys nothing decrements or truncates:
        // any merge order equals the sequential build exactly
        val kBig = truth.size
        val seqAll = mgOf(kBig, ks)
        val m1 = mgOf(kBig, p1).merge(mgOf(kBig, p2)).merge(mgOf(kBig, p3))
        val m2 = mgOf(kBig, p2).merge(mgOf(kBig, p3).merge(mgOf(kBig, p1)))
        m1.items() == seqAll.items() && m2.items() == seqAll.items() &&
          m1.error == 0L && java.util.Arrays.equals(m1.serialize(), seqAll.serialize())
      }
    })
  }

  private def kmvOf(k: Int, ks: Seq[String]): Kmv = {
    val s = Kmv.create(k)
    ks.foreach { key => val b = key.getBytes(UTF_8); s.add(b, b.length) }
    s
  }

  test("kmv bottom-k merge: any split/order == sequential hashes exactly; idempotent") {
    check(Prop.forAll(splits) { case (ks, i, j) =>
      val (p1, rest) = ks.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val seq = kmvOf(16, ks).hashes.toSeq
      kmvOf(16, p1).merge(kmvOf(16, p2)).merge(kmvOf(16, p3)).hashes.toSeq == seq &&
        kmvOf(16, p1).merge(kmvOf(16, p2).merge(kmvOf(16, p3))).hashes.toSeq == seq &&
        kmvOf(16, p3).merge(kmvOf(16, p1)).merge(kmvOf(16, p2)).hashes.toSeq == seq &&
        kmvOf(16, ks).merge(kmvOf(16, ks)).hashes.toSeq == seq && {
          // below capacity the sketch IS the distinct set
          val small = kmvOf(1000, ks)
          small.estimate == ks.distinct.size.toLong
        } && {
          val rt = Kmv.deserialize(kmvOf(16, ks).serialize())
          rt.k == 16 && rt.hashes.toSeq == seq
        }
    })
  }

  test("kmv union lemma: union-bottom-k membership equals full-set membership") {
    check(Prop.forAll(splits) { case (ks, i, _) =>
      val (as, bs) = ks.splitAt(i)
      val a = kmvOf(16, as); val b = kmvOf(16, bs)
      val u = Kmv.union(a, b)
      // for any hash in the union's bottom-k, sketch membership must
      // agree with true-set membership (the estimator's correctness)
      val aSet = as.map(Kmv.md5Hex).toSet
      val bSet = bs.map(Kmv.md5Hex).toSet
      u.hashes.forall { h =>
        a.containsHash(h) == aSet.contains(h) && b.containsHash(h) == bSet.contains(h)
      }
    })
  }

  test("kmv difference lemma: onlyInFirst == exact A-not-B count over the union sample") {
    check(Prop.forAll(splits) { case (ks, i, _) =>
      val (as, bs) = ks.splitAt(i)
      val a = kmvOf(16, as); val b = kmvOf(16, bs)
      val u = Kmv.union(a, b)
      val aSet = as.map(Kmv.md5Hex).toSet
      val bSet = bs.map(Kmv.md5Hex).toSet
      // the sketch-only computation must equal replaying true membership
      // over the union's retained sample — the estimator's exactness claim
      Kmv.onlyInFirst(a, b) ==
        u.hashes.count(h => aSet.contains(h) && !bSet.contains(h)) &&
        Kmv.onlyInFirst(b, a) ==
          u.hashes.count(h => bSet.contains(h) && !aSet.contains(h)) &&
        Kmv.onlyInFirst(a, a) == 0
    })
  }

  test("topk merge: any split/order/association == sequential rows exactly; serialize round-trips") {
    def build(rows: Seq[(Long, String)]): TopK = {
      val t = TopK.create(5); rows.foreach { case (s, it) => t.add(s, it) }; t
    }
    check(Prop.forAll(splits) { case (ks, i, j) =>
      // duplicates across partials are multiset rows, kept by both paths
      val all = ks.map(x => ((x.hashCode % 100).toLong, x))
      val (p1, rest) = all.splitAt(i)
      val (p2, p3) = rest.splitAt(j - i)
      val seq = build(all).result
      build(p1).merge(build(p2)).merge(build(p3)).result == seq &&
        build(p3).merge(build(p1).merge(build(p2))).result == seq &&
        build(p2).merge(build(p1)).merge(build(p3)).result == seq &&
        TopK.deserialize(build(all).serialize()).result == seq
    })
  }

  test("topk order and bound: best-first by (score desc, item asc), at most k rows") {
    val t = TopK.create(3)
    Seq(5L -> "b", 5L -> "a", 9L -> "z", 1L -> "x", 9L -> "a", 5L -> "a").foreach {
      case (s, it) => t.add(s, it)
    }
    // 9a, 9z, then the better of the 5s: "a" (dup "a" rows both beaten by 9s)
    assert(t.result == Seq((9L, "a"), (9L, "z"), (5L, "a")))
  }
}
