package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import Checks.Hit

class ChecksSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("content hash ignores row order and partitioning but no value") {
    import spark.implicits._
    val rows = Seq((1L, "a", 0.5, Seq(1.0f, 2.0f)), (2L, "b", 1.25, Seq(3.0f)),
      (3L, null, -2.0, Seq.empty[Float]))
    val base = Checks.contentHash(rows.toDF("id", "s", "x", "v"))
    assert(base._1 == 3)
    assert(Checks.contentHash(rows.reverse.toDF("id", "s", "x", "v").repartition(3)) == base)
    // last-bit noise in a double does not matter, a real change does
    val noisy = rows.map { case (i, s, x, v) => (i, s, x + x * 1e-15, v) }
    assert(Checks.contentHash(noisy.toDF("id", "s", "x", "v")) == base)
    val corrupted = Seq(
      rows.updated(1, (2L, "b", 1.26, Seq(3.0f))),
      rows.updated(0, (1L, "a", 0.5, Seq(1.0f, 2.5f))),
      rows.updated(2, (3L, "", -2.0, Seq.empty[Float])),
      rows.take(2),
      rows :+ rows.head)
    corrupted.foreach(c => assert(Checks.contentHash(c.toDF("id", "s", "x", "v")) != base, c))
  }

  test("a query whose rows or hash differ from the expected values fails") {
    val expected = Map("q" -> ((3L, "abc")))
    assert(SuiteWorkload.check("q", (3L, "abc"), expected).isEmpty)
    assert(SuiteWorkload.check("q", (3L, "abd"), expected).nonEmpty)
    assert(SuiteWorkload.check("q", (4L, "abc"), expected).nonEmpty)
    assert(SuiteWorkload.check("r", (3L, "abc"), expected).nonEmpty)
  }

  private val store: Seq[(String, Array[Float])] = Seq(
    "a" -> Array(1f, 0f), "b" -> Array(0.9f, 0.1f), "c" -> Array(0f, 1f),
    "d" -> Array(0.7f, 0.7f), "e" -> Array(-1f, 0f))
  private val q = Array(1f, 0.05f)

  test("flat results must equal the exact top-k up to score ties") {
    val exact = Checks.exactTopK(store, q, 3)
    assert(exact.map(_.id) == Seq("a", "b", "d"))
    assert(Checks.sameTopK(exact, exact))
    val wrongId = exact.updated(1, Hit("c", exact(1).score))
    assert(!Checks.sameTopK(wrongId, exact))
    val wrongScore = exact.updated(2, Hit("d", exact(2).score - 0.01))
    assert(!Checks.sameTopK(wrongScore, exact))
    assert(!Checks.sameTopK(exact.take(2), exact))
    // a tie at the cut may resolve either way
    val tied = Seq("x" -> Array(1f, 0f), "y" -> Array(0f, 1f), "z" -> Array(0f, 1f))
    val ex = Checks.exactTopK(tied, Array(1f, 1f), 2)
    val other = ex.updated(1, Hit(if (ex(1).id == "y") "z" else "y", ex(1).score))
    assert(Checks.sameTopK(other, ex))
  }

  test("approximate results must be live, truly scored, ordered and at most k") {
    val allowed = store.toMap
    val exact = Checks.exactTopK(store, q, 3)
    assert(Checks.validApprox(exact, 3, allowed, q).isEmpty)
    assert(Checks.recall(exact.take(2), exact) == 2.0 / 3)
    assert(Checks.validApprox(exact, 2, allowed, q).nonEmpty, "more than k")
    assert(Checks.validApprox(exact, 3, allowed - "b", q).nonEmpty, "a deleted id")
    assert(Checks.validApprox(exact.updated(0, Hit("a", 0.5)), 3, allowed, q).nonEmpty, "a wrong score")
    assert(Checks.validApprox(exact.reverse, 3, allowed, q).nonEmpty, "out of order")
    assert(Checks.validApprox(exact :+ exact.head, 5, allowed, q).nonEmpty, "a repeated id")
    assert(Checks.validApprox(Seq(Hit("zz", 0.1)), 3, allowed, q).nonEmpty, "an unknown id")
  }

  test("expected chunk counts follow the ingest window") {
    assert(LibraryWorkload.chunksOf(DataGen.Doc(1, Seq.fill(32)("a").mkString(" "), "en", "s")) == 1)
    assert(LibraryWorkload.chunksOf(DataGen.Doc(1, Seq.fill(33)("a").mkString(" "), "en", "s")) == 2)
    assert(LibraryWorkload.chunksOf(DataGen.Doc(1, "a", "en", "s")) == 1)
  }

  test("generated inputs depend on the seed only") {
    assert(DataGen.documents(5L, 50) == DataGen.documents(5L, 50))
    assert(DataGen.documents(5L, 50) != DataGen.documents(6L, 50))
    val t = DataGen.tables(9L)
    assert(t.keySet == graft.Tables.all.toSet)
    assert(t.map { case (n, x) => n -> x.rows } == DataGen.Rows)
    val again = DataGen.tables(9L)
    t.foreach { case (n, x) =>
      val sample = Seq(0, 1, x.rows / 2, x.rows - 1)
      assert(sample.map(x.row) == sample.map(again(n).row), n)
    }
    assert(t("lineitem").row(7) != DataGen.tables(10L)("lineitem").row(7))
  }
}
