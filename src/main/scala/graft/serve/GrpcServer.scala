package graft.serve

import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer}
import io.netty.channel.nio.NioIoHandler
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.channel.MultiThreadIoEventLoopGroup
import io.netty.handler.codec.http2._

import GrpcDispatch._
import ProtoWire._

/** NATIVE gRPC transport (`application/grpc` over HTTP/2) for the
  * reference's service surface — the transport the reference's own
  * clients speak (`internal/transport/grpc/`), all 20 verbs including
  * the client-streaming `StreamWrite` (`miniodb.proto:20`).
  *
  * HTTP/2 framing comes from netty-codec-http2, which SHIPS WITH the
  * Spark 4 distribution on this project's unmanaged classpath — the
  * earlier rounds' "no HTTP/2 server in the sandbox" blocker was a
  * missed jar, not a real absence (no new dependency is introduced;
  * this is the same already-on-classpath stance as importing Spark
  * itself). The protobuf layer stays the hand-rolled [[ProtoWire]] —
  * netty ships no protobuf runtime.
  *
  * Wire shape (the public gRPC-over-HTTP/2 spec):
  *  - request: HEADERS (`:method POST`, `:path /<Service>/<Method>`,
  *    `content-type: application/grpc[+proto]`, optional
  *    `authorization: Bearer …`) + DATA carrying length-prefixed
  *    messages (1 compression flag byte + 4-byte big-endian length).
  *  - response: HEADERS (`:status 200`, `content-type:
  *    application/grpc`) + DATA (framed messages) + trailers HEADERS
  *    (`grpc-status`, percent-encoded `grpc-message`) with END_STREAM.
  *
  * Verb codecs are [[GrpcDispatch]]'s. StreamQuery sends one message
  * per page; StreamWrite folds each StreamWriteRequest THE MOMENT its
  * bytes complete on the wire ([[GrpcDispatch.StreamWriteFold]]), so an
  * unbounded client
  * stream holds O(1 message) of transport memory — the response
  * (success, records_count, errors) goes out when the client half-
  * closes. Flow-control credit is returned per consumed DATA frame,
  * so a long stream never stalls on the connection window.
  *
  * Threading: facade work (query execution, per-record writes) runs on
  * a dedicated dispatch pool, NOT on the netty event loop — one slow
  * query must not stall HealthCheck or stream setup for every other
  * connection multiplexed onto the same loop. Per-stream order is
  * preserved by a serial executor per HTTP/2 stream, and for the
  * client-streaming fold the flow-control credit of a DATA frame is
  * returned only after its messages are folded, so a fast sender
  * cannot outrun the fold by more than the connection window — the
  * O(1 message) transport-memory claim survives the offload. */
class GrpcServer(facade: ServiceFacade, host: String = "127.0.0.1",
    port: Int = 0,
    maxInboundMessageBytes: Int = 4 * 1024 * 1024) {

  private val dispatch = new GrpcDispatch(facade)
  private var group: MultiThreadIoEventLoopGroup = _
  private var channel: Channel = _
  private var dispatchPool: java.util.concurrent.ExecutorService = _

  def start(): Int = synchronized {
    require(channel == null, "already started")
    group = new MultiThreadIoEventLoopGroup(2, NioIoHandler.newFactory())
    dispatchPool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(4, Runtime.getRuntime.availableProcessors() / 4),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"grpc-dispatch-${n.getAndIncrement()}")
          t.setDaemon(true); t
        }
      })
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          // h2c with prior knowledge — what gRPC clients speak on
          // plaintext (no TLS/ALPN in scope, like the reference's
          // default insecure listener)
          ch.pipeline.addLast(Http2FrameCodecBuilder.forServer().build())
          ch.pipeline.addLast(new Http2MultiplexHandler(
            new ChannelInitializer[Channel] {
              override def initChannel(sc: Channel): Unit = {
                sc.pipeline.addLast(new StreamHandler); ()
              }
            }))
          ()
        }
      })
    channel = b.bind(host, port).sync().channel()
    channel.localAddress.asInstanceOf[java.net.InetSocketAddress].getPort
  }

  def stop(): Unit = synchronized {
    if (channel != null) {
      channel.close().sync()
      group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS).sync()
      dispatchPool.shutdownNow()
      channel = null
      group = null
      dispatchPool = null
    }
  }

  /** Tasks that escaped their own error handling and were swallowed by a
    * stream's drain loop (observable for tests and operators: a nonzero
    * count means some stream never got its trailers). */
  private[serve] val swallowedTaskFailures =
    new java.util.concurrent.atomic.AtomicLong

  /** Runs tasks on the shared dispatch pool one at a time, in
    * submission order — per-stream FIFO without dedicating a thread
    * per stream. The submission handoff (synchronized queue) also
    * publishes the handler's header-phase fields to the pool thread. */
  private[serve] final class SerialExecutor extends java.util.concurrent.Executor {
    private val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Runnable]()
    private val scheduled = new java.util.concurrent.atomic.AtomicBoolean(false)
    def execute(r: Runnable): Unit = {
      tasks.add(r)
      if (scheduled.compareAndSet(false, true)) schedule()
    }
    /** Hand the drain to the pool; during/after [[stop]] the pool may be
      * shut down or already nulled — drop the queued tail cleanly (the
      * connection is closing anyway) instead of surfacing an NPE or
      * RejectedExecutionException as an abrupt channel reset. */
    private def schedule(): Unit = {
      val pool = dispatchPool
      if (pool == null) { tasks.clear(); scheduled.set(false) }
      else
        try pool.execute(() => drain())
        catch {
          case _: java.util.concurrent.RejectedExecutionException =>
            tasks.clear(); scheduled.set(false)
        }
    }
    private def drain(): Unit = {
      var r = tasks.poll()
      while (r != null) {
        // tasks carry their own error handling (trailers out); an
        // ORDINARY exception escaping must not kill the drain loop for
        // the stream's tail — but it is a bug worth a trace, so count
        // and log it rather than discarding silently. Fatal VM errors
        // (OOM &c.) and interrupts are NOT survivable stream state:
        // rethrow the former, restore the latter.
        try r.run() catch {
          case ie: InterruptedException =>
            swallowedTaskFailures.incrementAndGet()
            Thread.currentThread().interrupt()
          case scala.util.control.NonFatal(e) =>
            swallowedTaskFailures.incrementAndGet()
            org.slf4j.LoggerFactory.getLogger(classOf[GrpcServer])
              .warn("stream task escaped its error handling", e)
        }
        r = tasks.poll()
      }
      scheduled.set(false)
      // close the add-after-poll/clear-before race: re-arm if a task
      // slipped in between the final poll and the flag clear
      if (!tasks.isEmpty && scheduled.compareAndSet(false, true)) schedule()
    }
  }

  /** One handler instance per HTTP/2 stream (the multiplex child
    * channel). Accumulates the request's gRPC frames across DATA
    * frames; unary verbs dispatch at END_STREAM, StreamWrite folds
    * each message as it completes. All facade-touching work (unary
    * dispatch, fold adds, StreamQuery page fetches) runs on the
    * dispatch pool via the stream's [[SerialExecutor]]; netty
    * marshals the resulting writes back to the event loop itself. */
  private final class StreamHandler extends ChannelInboundHandlerAdapter {
    private val serial = new SerialExecutor
    private var service: String = ""
    private var method: String = ""
    @volatile private var headerFail: GrpcStatus = null
    // reassembly of length-prefixed messages across DATA frames;
    // compacted to its (≤ one partial message) tail after every cut
    private val pending = new java.io.ByteArrayOutputStream()
    private var unaryMsg: PMsg = parse(Array.emptyByteArray)
    private var sawMessage = false
    private var fold: dispatch.StreamWriteFold = null

    override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit =
      msg match {
        case h: Http2HeadersFrame =>
          try {
            val path = String.valueOf(h.headers.path)
            path.split("/").filter(_.nonEmpty).toList match {
              case List(s, m) => service = s; method = m
              case other => fail(Unimplemented, s"bad path ${other.mkString("/")}")
            }
            val ct = String.valueOf(h.headers.get("content-type"))
            if (!ct.startsWith("application/grpc"))
              fail(InvalidArgument, s"content-type $ct is not application/grpc")
            // service gate BEFORE any method-keyed dispatch: auth
            // (needsBearer) is service-keyed, so a streaming verb
            // reached under a bogus service name would otherwise skip
            // the bearer check yet still execute
            if (service != "miniodb.v1.MinIODBService" &&
                service != "miniodb.v1.AuthService")
              fail(Unimplemented, s"unknown service $service")
            if (dispatch.needsBearer(service, method))
              dispatch.requireBearer(
                Option(h.headers.get("authorization")).map(_.toString)
                  .filter(_.startsWith("Bearer ")).map(_.stripPrefix("Bearer ")))
            if (service == "miniodb.v1.MinIODBService" &&
                method == "StreamWrite")
              fold = new dispatch.StreamWriteFold
          } catch {
            // headers-phase failures must still drain the request body
            // (flow control) before trailing out — remember, reply at
            // END_STREAM
            case g: GrpcStatus => headerFail = g
            case e: Throwable => headerFail = new GrpcStatus(Internal,
              e.getClass.getSimpleName)
          }
          if (h.isEndStream) serial.execute(() => finish(ctx))
        case d: Http2DataFrame =>
          val n = d.content.readableBytes
          val bytes = new Array[Byte](n)
          d.content.readBytes(bytes)
          val end = d.isEndStream
          d.release()
          def consume(): Unit = {
            if (headerFail == null) {
              pending.write(bytes, 0, n)
              try cutMessages()
              catch {
                case g: GrpcStatus => headerFail = g
                case e: IllegalArgumentException =>
                  headerFail = new GrpcStatus(InvalidArgument,
                    String.valueOf(e.getMessage))
              }
            }
            // return flow-control credit for what we consumed, so a
            // long client stream never stalls on the window (stream
            // channel routes the update to both stream and connection
            // windows). On the fold path this runs AFTER the frame's
            // messages folded — credit is the fold's backpressure, so
            // a fast sender can outrun a slow fold by at most the
            // connection window, never by unbounded queued tasks.
            if (n > 0) {
              ctx.write(new DefaultHttp2WindowUpdateFrame(n)); ctx.flush(); ()
            }
          }
          if (fold != null)
            serial.execute(() => { consume(); if (end) finish(ctx) })
          else {
            // unary/server-streaming: cutting is cheap (keeps at most
            // one ≤4 MiB message) — stay on the loop, credit
            // immediately; only the facade-touching finish leaves it
            consume()
            if (end) serial.execute(() => finish(ctx))
          }
        case other =>
          // RST/priority/unknown stream frames: nothing to do
          io.netty.util.ReferenceCountUtil.release(other)
      }

    override def channelReadComplete(ctx: ChannelHandlerContext): Unit = {
      ctx.flush(); ()
    }

    /** Cut every COMPLETE length-prefixed message out of `pending`;
      * partial tails stay buffered for the next DATA frame. Unary
      * keeps only the first message; StreamWrite folds each one and
      * lets the buffer reset so transport memory stays O(1 message). */
    private def cutMessages(): Unit = {
      val b = pending.toByteArray
      var i = 0
      while (i + 5 <= b.length) {
        val len = ((b(i + 1) & 0xff) << 24) | ((b(i + 2) & 0xff) << 16) |
          ((b(i + 3) & 0xff) << 8) | (b(i + 4) & 0xff)
        if ((b(i) & 0xff) != 0)
          fail(Unimplemented, "compressed gRPC frames are not supported")
        if (len < 0) fail(InvalidArgument, "bad frame length")
        // the standard gRPC inbound cap (stock servers default 4 MiB):
        // without it a client could stream an unbounded message into
        // the reassembly buffer — code 8 = RESOURCE_EXHAUSTED
        if (len > maxInboundMessageBytes)
          fail(8, s"message of $len bytes exceeds the " +
            s"$maxInboundMessageBytes-byte inbound limit")
        if (i + 5 + len > b.length) {
          // partial message — wait for more DATA
          retain(b, i); return
        }
        val m = parse(java.util.Arrays.copyOfRange(b, i + 5, i + 5 + len))
        if (fold != null) fold.add(m)
        else if (!sawMessage) { unaryMsg = m; sawMessage = true }
        else
          // gRPC unary cardinality: exactly one request message; a
          // second one means the client and server disagree about the
          // verb's shape — failing beats silently dropping its data
          fail(InvalidArgument,
            s"$method is unary: more than one request message")
        i += 5 + len
      }
      retain(b, i)
    }

    private def retain(b: Array[Byte], from: Int): Unit = {
      // drop consumed bytes so the buffer stays tail-sized no matter
      // how long the client streams (unary keeps only its first
      // message; the tail is at most one partial message ≤ the cap)
      pending.reset()
      pending.write(b, from, b.length - from)
    }

    private def finish(ctx: ChannelHandlerContext): Unit = {
      var wroteHeaders = false
      def writeHeaders(): Unit = if (!wroteHeaders) {
        val hdrs = new DefaultHttp2Headers()
        hdrs.status("200")
        hdrs.set("content-type", "application/grpc")
        ctx.write(new DefaultHttp2HeadersFrame(hdrs))
        wroteHeaders = true
      }
      def writeMsg(m: Array[Byte]): io.netty.channel.ChannelFuture = {
        writeHeaders()
        val framed = ctx.alloc.buffer(5 + m.length)
        framed.writeByte(0)
        framed.writeInt(m.length)
        framed.writeBytes(m)
        ctx.write(new DefaultHttp2DataFrame(framed))
      }
      def trailersOut(status: Int, statusMsg: String): Unit = {
        writeHeaders()
        val trailers = new DefaultHttp2Headers()
        trailers.set("grpc-status", status.toString)
        if (statusMsg != null && statusMsg.nonEmpty)
          trailers.set("grpc-message",
            java.net.URLEncoder.encode(statusMsg, "UTF-8").replace("+", "%20"))
        ctx.writeAndFlush(new DefaultHttp2HeadersFrame(trailers, true))
        ()
      }
      def mapped(e: Throwable): (Int, String) = e match {
        case g: GrpcStatus => (g.code, g.getMessage)
        case e: IllegalArgumentException =>
          (InvalidArgument, String.valueOf(e.getMessage))
        case e: IllegalStateException =>
          (InvalidArgument, String.valueOf(e.getMessage))
        case e => (Internal, e.getClass.getSimpleName)
      }

      if (headerFail != null) {
        trailersOut(headerFail.code, headerFail.getMessage); return
      }
      try {
        if (fold != null) {
          if (pending.size > 0)
            // records already folded ARE committed (per-record write
            // semantics); carry the applied count so a client can
            // reconcile the partial effect of its truncated stream
            fail(InvalidArgument,
              s"stream ended mid-message after ${fold.records} records applied")
          writeMsg(fold.finish())
          trailersOut(OK, "")
        } else if (service == "miniodb.v1.MinIODBService" &&
            method == "StreamQuery") {
          // the service gate here is auth-critical: needsBearer() is
          // false for AuthService, so AuthService/StreamQuery must fall
          // through to dispatch.unary → auth() → UNIMPLEMENTED instead
          // of executing SQL without a bearer check
          // TRUE server-streaming with BACKPRESSURE: the lazy iterator
          // fetches one page per pump step, and the next step only
          // runs from the previous frame's write-completion callback —
          // a stalled reader stalls the pump at one in-flight frame
          // instead of letting netty buffer the whole (MaxStreamRows-
          // capped) result. Mid-stream failures surface in the
          // trailers after the frames already delivered — gRPC's
          // partial-stream error semantics.
          val it = dispatch.streamQueryIterator(unaryMsg)
          def pump(): Unit =
            try {
              if (!it.hasNext) trailersOut(OK, "")
              else {
                val f = writeMsg(it.next())
                ctx.flush()
                // the completion listener fires on the event loop; the
                // next page fetch is facade work → back onto the pool
                f.addListener((done: io.netty.util.concurrent.Future[_ >: Void]) =>
                  if (done.isSuccess) serial.execute(() => pump())
                  else { ctx.close(); () })
                ()
              }
            } catch { case e: Throwable =>
              val (c, m) = mapped(e); trailersOut(c, m) }
          pump()
        } else {
          writeMsg(dispatch.unary(service, method, unaryMsg))
          trailersOut(OK, "")
        }
      } catch { case e: Throwable =>
        val (c, m) = mapped(e); trailersOut(c, m) }
    }

    override def exceptionCaught(ctx: ChannelHandlerContext,
        cause: Throwable): Unit = {
      ctx.close(); ()
    }
  }
}
