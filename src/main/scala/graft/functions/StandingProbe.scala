package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ExprColumns
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The ingest funnel's standing side as ONE driver-built value, shipped
  * to executors once as a broadcast, and the native kernels that probe
  * it per incoming row: every incoming doc gets its exact-dup flag,
  * bloom `n_maybe` and CDC `n_shared` inside a single projection — no
  * join, no shuffle, and no per-batch re-broadcast of the standing
  * structures.
  *
  * Semantics are those of the DuckDB oracle's join spelling (kept as a
  * reference twin in StandingProbeSpec):
  *  - a NULL incoming column is "no hit": false / 0;
  *  - NULL members are never stored, so a NULL never matches a NULL;
  *  - `n_maybe` counts DISTINCT non-null tokens whose four seeded bloom
  *    bits are all set (the llm_dedup_bloom arithmetic:
  *    idx = tid60(tok || '#' || k) mod 62·words, k = 0..3);
  *  - `n_shared` counts chunk OCCURRENCES whose md5 hex is in the set. */
object StandingProbe {

  /** The standing corpus's probe structures: exact-hash set, bloom words
    * (62 usable bits each), chunk-md5 set. */
  final case class Index(hashes: java.util.HashSet[UTF8String],
                         bloom: Array[Long],
                         chunks: java.util.HashSet[String])

  /** Index over driver-collected standing values (NULLs dropped). */
  def index(hashes: Iterable[String], words: Iterable[(Long, Long)],
            nWords: Int, chunks: Iterable[String]): Index = {
    val h = new java.util.HashSet[UTF8String]()
    hashes.foreach(x => if (x != null) h.add(UTF8String.fromString(x)))
    val bloom = new Array[Long](nWords)
    words.foreach { case (w, bits) => bloom(w.toInt) |= bits }
    val c = new java.util.HashSet[String]()
    chunks.foreach(x => if (x != null) c.add(x))
    Index(h, bloom, c)
  }

  /** Whether the bloom says `tok` may be a standing token: all four
    * seeded positions set. */
  private def maybeSeen(bloom: Array[Long], tok: UTF8String): Boolean = {
    val b = tok.getBytes
    val buf = java.util.Arrays.copyOf(b, b.length + 2)
    buf(b.length) = '#'.toByte
    val m = bloom.length.toLong * 62
    var k = 0
    while (k < 4) {
      buf(b.length + 1) = ('0' + k).toByte
      val idx = Sketches.md5Long60(buf) % m
      if ((bloom((idx / 62).toInt) & (1L << (idx % 62))) == 0L) return false
      k += 1
    }
    true
  }

  def exact(ix: Broadcast[Index], h: UTF8String): Boolean = ix.value.hashes.contains(h)

  def maybe(ix: Broadcast[Index], sh: ArrayData): Long = {
    val bloom = ix.value.bloom
    val seen = new java.util.HashSet[UTF8String]()
    var n = 0L; var i = 0
    while (i < sh.numElements()) {
      if (!sh.isNullAt(i)) {
        val tok = sh.getUTF8String(i)
        if (seen.add(tok) && maybeSeen(bloom, tok)) n += 1
      }
      i += 1
    }
    n
  }

  def shared(ix: Broadcast[Index], chunks: ArrayData): Long = {
    val set = ix.value.chunks
    var n = 0L; var i = 0
    while (i < chunks.numElements()) {
      if (!chunks.isNullAt(i) && set.contains(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(chunks.getUTF8String(i).getBytes)))
        n += 1
      i += 1
    }
    n
  }

  /** One incoming column probed against the broadcast index. Never null:
    * a NULL input yields the kernel's zero. Codegen calls the static
    * helper above with the broadcast handle as a reference object, the
    * way [[Sketches.Tid60]] calls `md5Long60`. */
  sealed trait Probe extends UnaryExpression {
    def ix: Broadcast[Index]
    protected def helper: String
    protected def zero: Any
    protected def probe(v: Any): Any

    override def nullable: Boolean = false

    override def eval(input: InternalRow): Any = {
      val v = child.eval(input)
      if (v == null) zero else probe(v)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("standing", ix, classOf[Broadcast[_]].getName)
      val c = child.genCode(ctx)
      ev.copy(code = code"""
        ${c.code}
        ${CodeGenerator.javaType(dataType)} ${ev.value} = ${c.isNull} ? $zero
          : graft.functions.StandingProbe.$helper($ref, ${c.value});""",
        isNull = FalseLiteral)
    }
  }

  /** probe_exact(h string) → boolean: h is a standing exact hash. */
  case class ExactHit(child: Expression, ix: Broadcast[Index]) extends Probe {
    override def dataType: DataType = BooleanType
    override def prettyName: String = "probe_exact"
    override protected def helper = "exact"
    override protected def zero: Any = false
    override protected def probe(v: Any): Any = exact(ix, v.asInstanceOf[UTF8String])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** probe_maybe(sh array<string>) → bigint: bloom-maybe-seen shingles. */
  case class BloomMaybe(child: Expression, ix: Broadcast[Index]) extends Probe {
    override def dataType: DataType = LongType
    override def prettyName: String = "probe_maybe"
    override protected def helper = "maybe"
    override protected def zero: Any = 0L
    override protected def probe(v: Any): Any = maybe(ix, v.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** probe_shared(chunks array<string>) → bigint: standing chunk hits. */
  case class ChunkShared(child: Expression, ix: Broadcast[Index]) extends Probe {
    override def dataType: DataType = LongType
    override def prettyName: String = "probe_shared"
    override protected def helper = "shared"
    override protected def zero: Any = 0L
    override protected def probe(v: Any): Any = shared(ix, v.asInstanceOf[ArrayData])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private def col(e: Expression): Column = ExprColumns.column(e)
  private def expr(c: Column): Expression = ExprColumns.expression(c)

  def exactHit(h: Column, ix: Broadcast[Index]): Column = col(ExactHit(expr(h), ix))
  def bloomMaybe(sh: Column, ix: Broadcast[Index]): Column = col(BloomMaybe(expr(sh), ix))
  def chunkShared(chunks: Column, ix: Broadcast[Index]): Column = col(ChunkShared(expr(chunks), ix))
}
