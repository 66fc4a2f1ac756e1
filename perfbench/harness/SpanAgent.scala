package perfbench

import java.lang.instrument.{ClassFileTransformer, Instrumentation}
import java.security.ProtectionDomain
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import scala.jdk.CollectionConverters._

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, MethodVisitor, Opcodes, Type}
import org.apache.xbean.asm9.commons.{AdviceAdapter, Method}

/** Java agent that records a span around each call of the layers' public
  * functions, without touching program code: at class load it rewrites the
  * named methods of the Scala module classes to take `System.nanoTime` on
  * entry and hand (span, start) to [[Spans.exit]] on every exit. */
object SpanAgent {
  /** internal class name → (method, descriptor prefix, span name). */
  val targets: Map[String, Seq[(String, String, String)]] = Map(
    "graft/AudioToDataset$" -> Seq(("run", "", "run")),
    "graft/sources/Metadata$" -> Seq(
      ("load", "(Lorg/apache/spark/sql/SparkSession;Ljava/lang/String;)", "metadata.load"),
      ("inferJsonlSchema", "", "metadata.infer"),
      ("inferCsvSchema", "", "metadata.infer"),
      ("inferParquetSchema", "", "metadata.infer"),
      ("joinFiles", "", "metadata.join")),
    "graft/sources/AudioScan$" -> Seq(("scan", "", "audioscan.scan")),
    "graft/functions/Wav$" -> Seq(("parse", "", "wav.parse")),
    "graft/operators/Sharding$" -> Seq(("shardConsecutiveByKeyCounted", "", "sharding.rank")),
    "graft/sinks/ParquetShardSink$" -> Seq(("writeShards", "", "sinks.write")),
    "graft/sinks/DuckDbShardSink$" -> Seq(("writeShards", "", "sinks.write")),
    "graft/sinks/TarShardSink$" -> Seq(("writeShards", "", "sinks.write")))

  def premain(args: String, inst: Instrumentation): Unit =
    inst.addTransformer(new ClassFileTransformer {
      override def transform(loader: ClassLoader, name: String, cls: Class[_],
          pd: ProtectionDomain, bytes: Array[Byte]): Array[Byte] =
        targets.get(name).map(ms => instrument(bytes, ms)).orNull
    })

  private val spansType = Type.getObjectType("perfbench/Spans")

  def instrument(bytes: Array[Byte], methods: Seq[(String, String, String)]): Array[Byte] = {
    val reader = new ClassReader(bytes)
    val writer = new ClassWriter(reader, ClassWriter.COMPUTE_MAXS)
    reader.accept(new ClassVisitor(Opcodes.ASM9, writer) {
      override def visitMethod(access: Int, name: String, desc: String, sig: String,
          exceptions: Array[String]): MethodVisitor = {
        val mv = super.visitMethod(access, name, desc, sig, exceptions)
        methods.find { case (m, d, _) => m == name && desc.startsWith(d) } match {
          case Some((_, _, span)) =>
            new AdviceAdapter(Opcodes.ASM9, mv, access, name, desc) {
              private var start = 0
              override def onMethodEnter(): Unit = {
                invokeStatic(Type.getType(classOf[System]), new Method("nanoTime", "()J"))
                start = newLocal(Type.LONG_TYPE)
                storeLocal(start)
              }
              override def onMethodExit(opcode: Int): Unit = {
                push(span)
                loadLocal(start)
                invokeStatic(spansType, new Method("exit", "(Ljava/lang/String;J)V"))
              }
            }
          case None => mv
        }
      }
    }, ClassReader.EXPAND_FRAMES)
    writer.toByteArray
  }
}

/** In-memory span store, written out once at the end of a traced process.
  * Per-file spans (`wav.parse`) are only summed; the others are kept whole. */
object Spans {
  final case class Span(run: Int, name: String, thread: String, startNs: Long, endNs: Long, endMs: Long) {
    def startMs: Long = endMs - (endNs - startNs) / 1000000
  }

  @volatile var on = false
  @volatile var run = 0
  private val totals = new ConcurrentHashMap[String, Array[LongAdder]]()
  private val kept = new ConcurrentLinkedQueue[Span]()

  def exit(name: String, start: Long): Unit = if (on) {
    val end = System.nanoTime()
    val t = totals.computeIfAbsent(name, _ => Array(new LongAdder, new LongAdder))
    t(0).add(end - start)
    t(1).increment()
    if (name != "wav.parse")
      kept.add(Span(run, name, Thread.currentThread.getName, start, end, System.currentTimeMillis()))
  }

  /** span → (total ns, calls). */
  def snapshot: Map[String, (Long, Long)] =
    totals.asScala.map { case (k, v) => k -> (v(0).sum, v(1).sum) }.toMap

  def of(run: Int): Seq[Span] = kept.asScala.filter(_.run == run).toSeq

  def writeTo(file: String): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try kept.asScala.foreach { s =>
      w.println(s"""{"run":${s.run},"span":"${s.name}","thread":"${s.thread}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally w.close()
  }
}
