package graft.sources

import java.net.InetSocketAddress

import io.netty.bootstrap.ServerBootstrap
import io.netty.channel.{Channel, ChannelHandlerContext, ChannelInboundHandlerAdapter, ChannelInitializer, EventLoopGroup}
import io.netty.channel.nio.NioEventLoopGroup
import io.netty.channel.socket.SocketChannel
import io.netty.channel.socket.nio.NioServerSocketChannel
import io.netty.handler.codec.http2.{DefaultHttp2DataFrame, DefaultHttp2Headers, DefaultHttp2HeadersFrame, DefaultHttp2WindowUpdateFrame, Http2DataFrame, Http2FrameCodecBuilder, Http2HeadersFrame, Http2MultiplexHandler}

/** Native FileBuf gRPC streaming source (DataSource V2) — transport
  * parity for the reference's gRPC stream ingest (S6):
  * `filebuf.FileBufferService/CreateDataStreamer` is a client-streaming
  * RPC where every `Request.data` is one log line
  * (`/root/reference/protobuf/filebuf/filebuf.proto:6-13`, server loop
  * `/root/reference/internal/services/filegrpc/server.go:80-91`).
  *
  * Usage: `spark.readStream.format("filebuf").option("port", p).load()`
  * → one `value: String` column, same shape as the syslog source, feeding
  * the shared [[graft.pipeline.Ingest]] pipeline. `option("port", 0)`
  * binds an ephemeral port (the bound address is logged; tests read it
  * via [[FileBufServer]] directly).
  *
  * The server speaks real gRPC over HTTP/2 on the container's stock netty
  * codec (wire details in [[FileBufWire]]) — any stock gRPC client,
  * including the reference's Go `filegrpc` client, can connect. Multiple
  * concurrent client streams are supported (the reference client opens
  * `--parallelism` of them); each appends into the shared driver buffer.
  *
  * Delivery: at-most-once, the same driver buffer as the syslog source
  * ([[LineBufferMicroBatchStream]]); the reference's channel
  * buffer is equally volatile. For at-least-once, front with Kafka.
  */
class FileBufSourceProvider extends LineBufferSourceProvider("filebuf", options => {
  val host = Option(options.get("host")).getOrElse("0.0.0.0")
  val port = Option(options.get("port")).map(_.toInt).getOrElse(
    throw new IllegalArgumentException("filebuf source requires option 'port'"))
  Seq(FileBufServer.listener(host, port))
})

/** Minimal gRPC server for the FileBuf service on netty HTTP/2: accepts
  * any number of concurrent `CreateDataStreamer` client streams, invokes
  * `onLine` per decoded `Request.data`, and answers each completed stream
  * with the empty `Response` + `grpc-status: 0` trailers, exactly like
  * the reference server's `SendAndClose(&filebuf.Response{})`
  * (`server.go:80-91`). Unknown paths get `grpc-status: 12`
  * (UNIMPLEMENTED), per the gRPC spec.
  */
private[graft] class FileBufServer(host: String, port: Int, onLine: String => Unit) {

  private var group: EventLoopGroup = _
  private var channel: Channel = _

  /** Bind and return the actual port (useful with port 0). */
  def start(): Int = {
    group = new NioEventLoopGroup(2)
    val b = new ServerBootstrap()
      .group(group)
      .channel(classOf[NioServerSocketChannel])
      .childHandler(new ChannelInitializer[SocketChannel] {
        override def initChannel(ch: SocketChannel): Unit = {
          ch.pipeline().addLast(
            Http2FrameCodecBuilder.forServer().build(),
            new Http2MultiplexHandler(new ChannelInitializer[Channel] {
              override def initChannel(stream: Channel): Unit =
                stream.pipeline().addLast(new FileBufStreamHandler(onLine))
            }))
        }
      })
    channel = b.bind(host, port).sync().channel()
    channel.localAddress().asInstanceOf[InetSocketAddress].getPort
  }

  def stop(): Unit = {
    if (channel != null) { try channel.close().sync() catch { case _: Throwable => () } }
    if (group != null) group.shutdownGracefully(0, 1, java.util.concurrent.TimeUnit.SECONDS)
  }
}

private[sources] object FileBufServer {
  def listener(host: String, port: Int): LineBufferMicroBatchStream.Listener = append => {
    val server = new FileBufServer(host, port, append)
    server.start()
    () => server.stop()
  }
}

/** Per-HTTP/2-stream handler: one inbound `CreateDataStreamer` call.
  * Netty serializes events per child channel, so no locking is needed
  * around the decoder state.
  */
private[sources] class FileBufStreamHandler(onLine: String => Unit)
    extends ChannelInboundHandlerAdapter {

  private val decoder = new FileBufWire.MessageDecoder
  private var recognized = false

  override def channelRead(ctx: ChannelHandlerContext, msg: AnyRef): Unit = msg match {
    case h: Http2HeadersFrame =>
      recognized = h.headers().path() != null &&
        h.headers().path().toString == FileBufWire.Path
      if (h.isEndStream) respond(ctx) // zero-message stream
    case d: Http2DataFrame =>
      val consumed = d.initialFlowControlledBytes()
      try {
        if (recognized)
          decoder.feed(d.content().retain(), m =>
            onLine(FileBufWire.decodeRequestData(m)))
      } finally d.release()
      // replenish the stream flow-control window for the consumed bytes
      if (consumed > 0) ctx.write(new DefaultHttp2WindowUpdateFrame(consumed))
      if (d.isEndStream) respond(ctx) else ctx.flush()
    case other =>
      io.netty.util.ReferenceCountUtil.release(other)
  }

  private def respond(ctx: ChannelHandlerContext): Unit = {
    if (recognized) {
      val headers = new DefaultHttp2Headers().status("200")
      headers.add("content-type", FileBufWire.ContentType)
      ctx.write(new DefaultHttp2HeadersFrame(headers, false))
      ctx.write(new DefaultHttp2DataFrame(FileBufWire.framedEmptyResponse(), false))
      val trailers = new DefaultHttp2Headers()
      trailers.add("grpc-status", "0")
      ctx.write(new DefaultHttp2HeadersFrame(trailers, true))
    } else {
      val headers = new DefaultHttp2Headers().status("200")
      headers.add("content-type", FileBufWire.ContentType)
      headers.add("grpc-status", "12") // UNIMPLEMENTED
      ctx.write(new DefaultHttp2HeadersFrame(headers, true))
    }
    ctx.flush()
  }

  override def channelInactive(ctx: ChannelHandlerContext): Unit = {
    decoder.release()
    super.channelInactive(ctx)
  }

  override def exceptionCaught(ctx: ChannelHandlerContext, cause: Throwable): Unit = {
    // a malformed stream kills that stream only, never the server
    ctx.close()
  }
}
