package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Scratch

/** The one per-JVM fixture cache (`Scratch.Fixture`) and the one
  * fixture copy (`Scratch.copy`) that every registered query's
  * standing state goes through. */
class ScratchSpec extends AnyFunSuite {

  test("a key builds once when 8 threads ask for it at the same time") {
    val fx = new Scratch.Fixture[String]("spec_once")
    val builds = new AtomicInteger()
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map(_ => pool.submit(() => {
        go.await()
        fx("dir") { tmp => builds.incrementAndGet(); Thread.sleep(50); tmp }
      }))
      go.countDown()
      val values = got.map(_.get(30, TimeUnit.SECONDS)).toSet
      assert(builds.get == 1)
      assert(values.size == 1)
      assert(Files.isDirectory(Paths.get(values.head)))
    } finally pool.shutdownNow()
  }

  test("a build that throws caches nothing and the next call builds again") {
    val fx = new Scratch.Fixture[String]("spec_retry")
    val builds = new AtomicInteger()
    var failedIn = ""
    val e = intercept[IllegalStateException] {
      fx("dir") { tmp => builds.incrementAndGet(); failedIn = tmp; throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    val first = fx("dir") { tmp => builds.incrementAndGet(); tmp }
    assert(builds.get == 2)
    assert(first != failedIn, "the retry reused the failed build's directory")
    assert(fx("dir") { _ => builds.incrementAndGet(); "rebuilt" } == first)
    assert(builds.get == 2)
  }

  test("a build may call another fixture: same instance with another key, or another instance") {
    val fx = new Scratch.Fixture[Int]("spec_nest")
    val other = new Scratch.Fixture[Int]("spec_nest_other")
    // "Aa" and "BB" have one String hash, so the inner key lands in the
    // outer key's bin: a ConcurrentHashMap mapping function that did
    // this would throw `Recursive update`
    assert("Aa".hashCode == "BB".hashCode)
    val outer = fx("Aa") { _ => fx("BB") { _ => 1 } + other("Aa") { _ => 1 } }
    assert(outer == 2)
    assert(fx("BB") { _ => -1 } == 1)
    assert(other("Aa") { _ => -1 } == 1)
  }

  test("two instances with one prefix and one key build into distinct directories") {
    val a = new Scratch.Fixture[String]("spec_same")
    val b = new Scratch.Fixture[String]("spec_same")
    val da = a("dir")(identity)
    val db = b("dir")(identity)
    assert(da != db)
    assert(Files.isDirectory(Paths.get(da)) && Files.isDirectory(Paths.get(db)))
  }

  test("mutating a fixture copy leaves the template byte-identical") {
    import TestSpark._
    val template = Paths.get(Scratch.dir("spec_template"), "t")
    Files.createDirectories(template.resolve("part=1"))
    Files.write(template.resolve("part=1/a.bin"), Array[Byte](1, 2, 3))
    Files.write(template.resolve("_manifest"), "v1".getBytes("UTF-8"))
    def snapshot(root: Path): Map[String, Seq[Byte]] =
      Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    val before = snapshot(template)
    val into = Scratch.dir("spec_copy")
    val copy = Paths.get(Scratch.copy(spark, template.toString, into))
    assert(copy == Paths.get(into, "t"))
    assert(snapshot(copy).filter { case (k, _) => !k.endsWith(".crc") } == before)
    Files.write(copy.resolve("part=1/a.bin"), Array[Byte](9))
    Files.write(copy.resolve("_manifest"), "v2".getBytes("UTF-8"))
    Files.write(copy.resolve("part=1/b.bin"), Array[Byte](4))
    Files.delete(copy.resolve("_manifest"))
    assert(snapshot(template) == before)
  }
}
