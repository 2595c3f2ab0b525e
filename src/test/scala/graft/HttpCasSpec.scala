package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{Callable, ConcurrentHashMap, CyclicBarrier, Executors}

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CommitCas

/** A real (in-process) HTTP object store with S3's conditional-PUT
  * contract, backing the non-mock leg of the CommitCas race spec:
  *
  *  - `PUT /key` with `If-None-Match: *` succeeds (201) iff the key was
  *    absent, else 412 Precondition Failed — the winner is decided where
  *    S3 decides it, SERVER-side, by one atomic putIfAbsent. The server
  *    runs a multi-threaded executor on a real TCP socket, so concurrent
  *    PUTs genuinely race through the network stack; nothing in the
  *    client can influence the outcome.
  *  - `GET`/`DELETE` as usual; `GET /__list?prefix=` enumerates keys.
  *
  * The sandbox has no hadoop-aws jar and no MinIO binary, so the S3A
  * connector itself cannot run here (SURVEY §12); this store exercises
  * the exact protocol shape S3A maps to — buffer locally, one
  * conditional PUT at close, lost race = FileAlreadyExistsException.
  */
object HttpObjectStore {
  /** A stored object: bytes plus server-side last-modified (object
    * stores stamp mtime at PUT — the Library's in-flight grace check
    * reads it off listStatus).
    */
  final case class Obj(bytes: Array[Byte], mtime: Long)

  final class Server {
    private val objects = new ConcurrentHashMap[String, Obj]()
    private val http = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    // enough server concurrency that the conditional PUTs really race
    // and the Library's 32-way admin walks (AdminWalkParallelism) never
    // queue behind an artificial server bottleneck a real object store
    // lacks
    private val pool = Executors.newFixedThreadPool(64)
    http.setExecutor(pool)
    http.createContext("/", (x: HttpExchange) => handle(x))
    http.start()

    def port: Int = http.getAddress.getPort
    // HttpServer.stop does NOT shut down an externally-supplied
    // executor; its non-daemon threads would keep the JVM alive after
    // the last spec returns
    def stop(): Unit = { http.stop(0); pool.shutdownNow(); () }
    def keys: Seq[String] = { import scala.jdk.CollectionConverters._; objects.keySet.asScala.toSeq }

    private def handle(x: HttpExchange): Unit =
      try {
        val key = x.getRequestURI.getPath
        (x.getRequestMethod, key) match {
          case ("GET", "/__list") =>
            // key<TAB>length<TAB>mtime per line — the ListObjectsV2 shape
            // (key + Size + LastModified), enough for FileStatus synthesis
            val prefix = Option(x.getRequestURI.getQuery)
              .flatMap(_.split("&").find(_.startsWith("prefix=")))
              .map(_.stripPrefix("prefix=")).getOrElse("")
            import scala.jdk.CollectionConverters._
            val body = objects.entrySet().asScala.toSeq
              .filter(_.getKey.startsWith(prefix)).sortBy(_.getKey)
              .map(e => s"${e.getKey}\t${e.getValue.bytes.length}\t${e.getValue.mtime}")
              .mkString("\n")
            reply(x, 200, body.getBytes("UTF-8"))
          case ("GET", _) =>
            objects.get(key) match {
              case null => x.sendResponseHeaders(404, -1); x.close()
              case b => reply(x, 200, b.bytes)
            }
          case ("PUT", _) =>
            val body = x.getRequestBody.readAllBytes()
            val obj = Obj(body, System.currentTimeMillis())
            val conditional = Option(x.getRequestHeaders.getFirst("If-None-Match")).contains("*")
            val won =
              if (conditional) objects.putIfAbsent(key, obj) == null // THE atomic decision
              else { objects.put(key, obj); true }
            x.sendResponseHeaders(if (won) 201 else 412, -1); x.close()
          case ("DELETE", _) =>
            objects.remove(key); x.sendResponseHeaders(204, -1); x.close()
          case _ => x.sendResponseHeaders(405, -1); x.close()
        }
      } catch { case _: Throwable => x.sendResponseHeaders(500, -1); x.close() }

    private def reply(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      if (body.isEmpty) x.sendResponseHeaders(code, -1)
      else { x.sendResponseHeaders(code, body.length.toLong); x.getResponseBody.write(body) }
      x.close()
    }
  }
}

/** Hadoop FileSystem speaking the HTTP object-store protocol — the
  * client side of the S3A contract, faithfully UN-posixy:
  *
  *  - create(overwrite = false) buffers locally and issues ONE
  *    conditional PUT at close(); a 412 surfaces as
  *    FileAlreadyExistsException exactly there (the CommitCas leg).
  *  - rename is COPY + DELETE per object — functional, NEVER atomic,
  *    exactly what S3A's rename is. A caller that needed rename
  *    atomicity would pass tests on file:// and corrupt data on S3;
  *    running the whole Library lifecycle here proves no such caller
  *    exists outside CommitCas (HttpLibraryLifecycleSpec).
  *  - directories do not exist: they are synthesized from key prefixes
  *    at list/status time (the S3A shape); mkdirs is a no-op.
  */
class HttpCasFileSystem extends FileSystem {
  private var endpoint: String = _
  private var fsUri: URI = _
  private val client = HttpClient.newHttpClient()
  private val BlockSize = 32L * 1024 * 1024

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    fsUri = uri
    endpoint = s"http://127.0.0.1:${uri.getPort}"
    setConf(conf)
  }

  override def getScheme: String = "s3"
  override def getUri: URI = fsUri
  private def keyOf(f: Path): String = f.toUri.getPath
  private def qual(key: String): Path =
    new Path(fsUri.getScheme + "://" + fsUri.getAuthority + key)

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(endpoint + keyOf(f))).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    if (r.statusCode() == 404) throw new java.io.FileNotFoundException(f.toString)
    new FSDataInputStream(new SeekableBytes(r.body()))
  }

  override def create(
      f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    val buf = new java.io.ByteArrayOutputStream()
    new FSDataOutputStream(buf, null) {
      override def close(): Unit = {
        val b = HttpRequest.newBuilder(URI.create(endpoint + keyOf(f)))
          .PUT(HttpRequest.BodyPublishers.ofByteArray(buf.toByteArray))
        if (!overwrite) b.header("If-None-Match", "*")
        val r = client.send(b.build(), HttpResponse.BodyHandlers.discarding())
        if (r.statusCode() == 412)
          throw new FileAlreadyExistsException(s"conditional PUT lost: $f")
        if (r.statusCode() != 201)
          throw new java.io.IOException(s"PUT ${r.statusCode()}: $f")
      }
    }
  }

  override def append(f: Path, bufferSize: Int, progress: Progressable): FSDataOutputStream =
    throw new UnsupportedOperationException("object store append")

  /** S3A rename: per-object copy then delete. Functional but NOT
    * atomic — a concurrent reader can observe src and dst both present
    * (or, across a multi-object "directory", a partial move). dst
    * landing inside an existing directory keeps the source name
    * (Hadoop semantics); otherwise dst is the exact target.
    */
  override def rename(src: Path, dst: Path): Boolean = {
    val sk = keyOf(src)
    val es = list(sk)
    def move(from: String, to: String): Unit = {
      val r = client.send(
        HttpRequest.newBuilder(URI.create(endpoint + from)).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      if (r.statusCode() != 200) throw new java.io.IOException(s"rename GET $from")
      val put = client.send(
        HttpRequest.newBuilder(URI.create(endpoint + to))
          .PUT(HttpRequest.BodyPublishers.ofByteArray(r.body())).build(),
        HttpResponse.BodyHandlers.discarding())
      if (put.statusCode() != 201) throw new java.io.IOException(s"rename PUT $to")
      client.send(
        HttpRequest.newBuilder(URI.create(endpoint + from)).DELETE().build(),
        HttpResponse.BodyHandlers.discarding())
      ()
    }
    val dk0 = keyOf(dst)
    val dstIsDir = list(dk0.stripSuffix("/") + "/").nonEmpty
    val dk = if (dstIsDir) dk0.stripSuffix("/") + "/" + src.getName else dk0
    if (es.exists(_.key == sk)) { move(sk, dk); true }
    else {
      val pre = sk.stripSuffix("/") + "/"
      val under = es.filter(_.key.startsWith(pre))
      if (under.isEmpty) false
      else {
        under.foreach(e => move(e.key, dk.stripSuffix("/") + "/" + e.key.stripPrefix(pre)))
        true
      }
    }
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    val key = keyOf(f)
    def del(k: String): Unit = {
      client.send(
        HttpRequest.newBuilder(URI.create(endpoint + k)).DELETE().build(),
        HttpResponse.BodyHandlers.discarding())
      ()
    }
    val es = list(key)
    val pre = key.stripSuffix("/") + "/"
    val children = es.filter(_.key.startsWith(pre))
    if (es.exists(_.key == key)) { del(key); true }
    else if (children.nonEmpty) {
      if (!recursive)
        throw new java.io.IOException(s"non-recursive delete of non-empty dir $f")
      children.foreach(e => del(e.key))
      true
    } else false
  }

  private final case class Entry(key: String, len: Long, mtime: Long)

  private def list(prefix: String): Seq[Entry] = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"$endpoint/__list?prefix=$prefix")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    r.body().split("\n").toSeq.filter(_.nonEmpty).map { line =>
      line.split("\t") match {
        case Array(k, l, m) => Entry(k, l.toLong, m.toLong)
        case Array(k) => Entry(k, 0L, 0L)
        case other => throw new java.io.IOException(s"bad list line: ${other.mkString("\t")}")
      }
    }
  }

  /** Direct children of a prefix, S3 delimiter-style: exact keys at the
    * next level are files (real length + mtime); deeper keys synthesize
    * directory entries.
    */
  override def listStatus(f: Path): Array[FileStatus] = {
    val key = keyOf(f)
    val self = list(key).find(_.key == key)
    if (self.isDefined)
      return Array(new FileStatus(self.get.len, false, 1, BlockSize,
        self.get.mtime, qual(key)))
    val dir = key.stripSuffix("/") + "/"
    val under = list(dir)
    if (under.isEmpty && dir != "/")
      throw new java.io.FileNotFoundException(f.toString)
    under.groupBy(e => e.key.stripPrefix(dir).takeWhile(_ != '/')).toArray
      .sortBy(_._1).map { case (name, es) =>
        val childKey = dir + name
        es.find(_.key == childKey) match {
          case Some(e) =>
            new FileStatus(e.len, false, 1, BlockSize, e.mtime, qual(childKey))
          case None =>
            new FileStatus(0, true, 1, 0, es.map(_.mtime).max, qual(childKey))
        }
      }
  }

  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path("/")
  override def mkdirs(f: Path, permission: FsPermission): Boolean = true // keys, not dirs
  override def getDefaultBlockSize(f: Path): Long = BlockSize

  override def getFileStatus(f: Path): FileStatus = {
    val key = keyOf(f)
    if (key == "/" || key.isEmpty)
      return new FileStatus(0, true, 1, 0, 0, qual("/"))
    val es = list(key)
    es.find(_.key == key) match {
      case Some(e) => new FileStatus(e.len, false, 1, BlockSize, e.mtime, qual(key))
      case None =>
        val pre = key.stripSuffix("/") + "/"
        if (es.exists(_.key.startsWith(pre)))
          new FileStatus(0, true, 1, 0, 0, qual(key))
        else throw new java.io.FileNotFoundException(f.toString)
    }
  }

  /** In-memory Seekable wrapper for FSDataInputStream. */
  private final class SeekableBytes(bytes: Array[Byte])
    extends java.io.ByteArrayInputStream(bytes) with Seekable with PositionedReadable {
    override def seek(p: Long): Unit = { reset(); skip(p) }
    override def getPos: Long = (bytes.length - available()).toLong
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def read(position: Long, buffer: Array[Byte], offset: Int, length: Int): Int = {
      val n = math.min(length, bytes.length - position.toInt)
      if (n <= 0) -1
      else { System.arraycopy(bytes, position.toInt, buffer, offset, n); n }
    }
    override def readFully(position: Long, buffer: Array[Byte], offset: Int, length: Int): Unit =
      if (read(position, buffer, offset, length) < length)
        throw new java.io.EOFException()
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)
  }
}

/** The ConditionalPut primitive raced against a REAL conditional-PUT
  * server (not an in-process emulated FileSystem): six committers, one
  * winner, decided server-side — the closest this sandbox can get to the
  * S3 integration (no hadoop-aws jar, no MinIO binary; SURVEY §12).
  */
class HttpCasSpec extends AnyFunSuite {

  private def withStore(body: (HttpObjectStore.Server, FileSystem) => Unit): Unit = {
    val server = new HttpObjectStore.Server
    try {
      val fs = new HttpCasFileSystem()
      fs.initialize(URI.create(s"s3://127.0.0.1:${server.port}/"), new Configuration())
      body(server, fs)
    } finally server.stop()
  }

  private def read(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  test("forFs routes the HTTP object store (scheme s3) to ConditionalPut") {
    withStore { (_, fs) => assert(CommitCas.forFs(fs) == CommitCas.ConditionalPut) }
  }

  test("conditional PUT over HTTP: six racing committers, exactly one server-side winner") {
    withStore { (server, fs) =>
      val target = new Path("/bucket/lib/sym/v00042.json")
      val pool = Executors.newFixedThreadPool(6)
      try {
        val barrier = new CyclicBarrier(6)
        val futures = (1 to 6).map { i =>
          pool.submit(new Callable[Boolean] {
            def call(): Boolean = {
              barrier.await()
              CommitCas.forFs(fs).commit(fs, target, s"writer-$i")
            }
          })
        }
        val outcomes = futures.map(_.get())
        assert(outcomes.count(identity) == 1,
          s"expected exactly one winner, got ${outcomes.count(identity)}")
        val winner = outcomes.indexOf(true) + 1
        assert(read(fs, target) == s"writer-$winner",
          "surviving content must be the winner's, untorn")
        assert(server.keys == Seq("/bucket/lib/sym/v00042.json"),
          "no temp objects — conditional create writes exactly one key")
      } finally pool.shutdown()
    }
  }

  test("late committer loses at CLOSE time (the S3A surface), first content intact") {
    withStore { (_, fs) =>
      val target = new Path("/bucket/lib/sym/v00001.json")
      assert(CommitCas.ConditionalPut.commit(fs, target, "first"))
      // open the stream BEFORE checking existence — the loss must surface
      // at close(), where the conditional PUT actually happens
      val out = fs.create(target, false)
      out.write("second".getBytes("UTF-8"))
      intercept[FileAlreadyExistsException] { out.close() }
      assert(read(fs, target) == "first")
      // and through the primitive, the same race is a clean false
      assert(!CommitCas.ConditionalPut.commit(fs, target, "third"))
      assert(read(fs, target) == "first")
    }
  }
}
