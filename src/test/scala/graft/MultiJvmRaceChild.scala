package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.functions._

import graft.core.{GraftSession, Library, LibraryOptions}

/** Shared plumbing of the multi-JVM race tests: the store-keyed signal
  * protocol (barrier/ready keys as raw HTTP objects) and the child-side
  * Spark + Library bootstrap. ONE definition — the signaling protocol
  * and FS wiring must not fork between the race child, the grace
  * reader, and the parent spec.
  */
private[graft] object MultiJvmPlumbing {
  private lazy val http = HttpClient.newHttpClient()

  def putKey(port: Int, key: String): Unit = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$key"))
      .PUT(HttpRequest.BodyPublishers.ofString("1")).build(),
    HttpResponse.BodyHandlers.discarding())

  def keyExists(port: Int, key: String): Boolean = http.send(
    HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$key"))
      .GET().build(),
    HttpResponse.BodyHandlers.discarding()).statusCode() == 200

  /** Child-side bootstrap: own SparkSession, HTTP-store FS wiring, and
    * a Library handle on the given bucket.
    */
  def openLibrary(port: Int, bucket: String,
      options: LibraryOptions = LibraryOptions())
      : (org.apache.spark.sql.SparkSession, Library) = {
    val spark = GraftSession.builder("local[2]", 2).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3.impl", classOf[HttpCasFileSystem].getName)
    (spark, new Library(s"s3://127.0.0.1:$port/$bucket/lib", spark, options))
  }
}

/** Child process of [[MultiJvmCasRaceSpec]]: a REAL separate JVM — own
  * SparkSession, own Library handle, no shared heap, caches, or locks
  * with the parent or its sibling — appending batches to one symbol
  * through the parent's HTTP object store. This is the cross-PROCESS
  * shape the commit contract claims (reference analog: concurrent
  * writers racing last-writer-wins on VERSION_REF,
  * `docs/mkdocs/docs/technical/on_disk_storage.md:29-31`); the
  * in-process CommitCas races (CommitCasSpec, HttpCasSpec) cannot rule
  * out a hidden dependence on JVM-shared state.
  *
  * Protocol (keys under `/__race/` on the parent's store):
  *  - resolve the symbol's CURRENT manifest (the shared base);
  *  - PUT `ready-<id>`, then poll `go` — the barrier guarantees the
  *    sibling resolved the SAME base, so the first commit round is a
  *    deterministic CAS collision (both target base+1; exactly one
  *    412s server-side and surfaces as ConcurrentModificationException);
  *  - append until `quota` batches commit, counting lost races (each
  *    loss re-reads the new latest and retries — the documented caller
  *    contract of the derived-commit CME);
  *  - print one `RACE-CHILD-DONE` line the parent parses, exit 0.
  */
object MultiJvmRaceChild {
  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val id = args(1).toInt
    val quota = args(2).toInt
    val rows = args(3).toInt

    val (spark, lib) = MultiJvmPlumbing.openLibrary(port, "bucket",
      LibraryOptions(gcGraceMs = 0))

    // Resolve the shared base BEFORE the barrier: both children see the
    // parent's seed version, so round one MUST collide on base+1.
    val base = lib.resolveVersion("race")
    MultiJvmPlumbing.putKey(port, s"/__race/ready-$id")
    while (!MultiJvmPlumbing.keyExists(port, "/__race/go")) Thread.sleep(20)

    var committed = 0
    var conflicts = 0
    while (committed < quota) {
      val batch = spark.range(rows).select(
        (col("id") + lit(1000000L * id + 1000L * committed)).as("v"),
        lit(s"w$id-$committed").as("src"))
      try {
        if (committed == 0 && conflicts == 0)
          // first attempt rides the pre-barrier base (the stale-base
          // window commitNew's CAS exists to catch)
          lib.commitNew("race", batch, base.indexCol, targetRows = 1000,
            priorFiles = base.files, metadata = base.metadata,
            priorDirSchemas = base.dirSchemas,
            baseVersion = Some(base.version))
        else
          lib.append("race", batch, targetRows = 1000)
        committed += 1
      } catch {
        case _: java.util.ConcurrentModificationException => conflicts += 1
      }
    }
    println(s"RACE-CHILD-DONE id=$id committed=$committed conflicts=$conflicts")
    spark.stop()
    sys.exit(0)
  }
}
