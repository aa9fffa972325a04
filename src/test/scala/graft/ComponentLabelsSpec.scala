package graft

import scala.collection.mutable

import graft.ops.Corpus
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

/** `Corpus.componentLabels` against union-find on random edge lists: every
  * node of a non-loop edge is labeled with the minimum node of its
  * component, whatever the shape, orientation or duplication of the
  * input. */
class ComponentLabelsSpec extends SparkSpec {

  private type Edges = Seq[(Long, Long)]

  /** Union-find with the smaller root always winning, so every root is
    * the minimum of its set. Self loops add no node. */
  private def unionFind(edges: Edges): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def labels(edges: Edges, maxRounds: Int = 32): Map[Long, Long] = {
    import spark.implicits._
    val got = Corpus.componentLabels(edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == got.map(_._1).distinct.length, "a node labeled twice")
    got.toMap
  }

  /** Distinct node ids in scrambled order, so id order and shape order
    * disagree. */
  private def ids(n: Int): Gen[Seq[Long]] =
    Gen.pick(n, 1L to 10L * n + 10).flatMap(xs => shuffled(xs.toSeq))

  private def shuffled[T](xs: Seq[T]): Gen[Seq[T]] =
    Gen.listOfN(xs.size, Gen.long).map(keys => xs.zip(keys).sortBy(_._2).map(_._1))

  private def orient(e: (Long, Long)): Gen[(Long, Long)] =
    Gen.oneOf(e, e.swap)

  private val randomGraph: Gen[Edges] = for {
    n <- Gen.choose(2, 25)
    v <- ids(n)
    m <- Gen.choose(0, 40)
    es <- Gen.listOfN(m, Gen.zip(Gen.oneOf(v), Gen.oneOf(v)))
  } yield es

  private val path: Gen[Edges] = for {
    n <- Gen.choose(2, 60)
    v <- ids(n)
    es <- Gen.sequence[Seq[(Long, Long)], (Long, Long)](v.zip(v.tail).map(orient))
  } yield es

  private val star: Gen[Edges] = for {
    n <- Gen.choose(2, 30)
    v <- ids(n)
    es <- Gen.sequence[Seq[(Long, Long)], (Long, Long)](v.tail.map(l => orient(v.head -> l)))
  } yield es

  /** Already a star forest in the stop rule's sense: each star's center
    * is its minimum, and every leaf is a src. */
  private val starForest: Gen[Edges] = for {
    k <- Gen.choose(1, 5)
    sizes <- Gen.listOfN(k, Gen.choose(2, 8))
    v <- ids(sizes.sum)
  } yield {
    val groups = sizes.scanLeft(0)(_ + _).zip(sizes).map { case (at, s) => v.slice(at, at + s) }
    groups.flatMap { g => val c = g.min; g.filter(_ != c).map(_ -> c) }
  }

  /** A base shape plus reversed copies, exact duplicates and self loops,
    * shuffled. */
  private val noisy: Gen[Edges] = for {
    base <- Gen.oneOf(randomGraph, path, star)
    rev <- Gen.someOf(base)
    dup <- Gen.someOf(base)
    loops <- Gen.someOf(base.map(_._1))
    all <- shuffled(base ++ rev.map(_.swap) ++ dup ++ loops.map(x => x -> x))
  } yield all

  private val anyGraph: Gen[Edges] =
    Gen.frequency(3 -> randomGraph, 2 -> path, 1 -> star, 2 -> starForest, 3 -> noisy,
      1 -> Gen.const(Seq.empty))

  test("labels equal union-find minima on random edge lists") {
    val prop = Prop.forAll(anyGraph)(es => labels(es) == unionFind(es))
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(40).withInitialSeed(20261020L), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("edge cases: empty list, self loops only, one edge, a star forest as given") {
    assert(labels(Seq.empty).isEmpty)
    assert(labels(Seq(5L -> 5L, 7L -> 7L)).isEmpty)
    assert(labels(Seq(9L -> 4L, 9L -> 4L, 4L -> 9L)) == Map(4L -> 4L, 9L -> 4L))
    val forest = Seq(5L -> 1L, 9L -> 1L, 3L -> 1L, 8L -> 2L, 7L -> 6L)
    assert(labels(forest) == unionFind(forest))
  }

  test("a long path converges inside the round bound, and a too-small bound throws") {
    val n = 3000
    val v = new scala.util.Random(7).shuffle((1L to n).toVector)
    val es = v.zip(v.tail)
    val got = labels(es)
    assert(got.size == n && got.values.toSet == Set(1L))
    intercept[IllegalStateException](labels(es, maxRounds = 1))
  }
}
