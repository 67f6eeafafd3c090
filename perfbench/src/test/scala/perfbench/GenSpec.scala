package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** Every generated input under `dir` (file bytes by relative path), plus
    * the stream chunks, which reach the program through a MemoryStream. */
  private def generate(seed: Long, dir: Path): (Map[String, Seq[Byte]], Seq[String]) = {
    Gen.claims(spark, seed, dir.resolve("claims"), 500, 2, 50)
    Gen.corpus(spark, seed, dir.resolve("corpus"), 2, 100)
    Gen.retrieval(spark, seed, dir.resolve("retrieval"), 200, 20, 4)
    val st = Gen.stream(spark, seed, dir.resolve("stream"), 100, 2, 20)
    val files = Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    (files, st.chunks.flatten.map(d => s"${d.id}|${d.text}|${d.ts}"))
  }

  test("the same seed gives byte-identical inputs; another seed gives different ones") {
    val root = Files.createDirectories(Paths.get("target", s"genspec-${System.nanoTime()}"))
    try {
      val (a, sa) = generate(7, root.resolve("a"))
      val (b, sb) = generate(7, root.resolve("b"))
      val (c, sc) = generate(8, root.resolve("c"))
      assert(a.nonEmpty)
      assert(a.keySet == b.keySet)
      a.foreach { case (f, bytes) => assert(bytes == b(f), s"$f differs under one seed") }
      assert(sa == sb)
      assert(a.keySet == c.keySet)
      assert(a.forall { case (f, bytes) => bytes != c(f) }, "a file did not change with the seed")
      assert(sa != sc)
    } finally {
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
  }
}
