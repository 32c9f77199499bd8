package graft.functions

import org.apache.spark.sql.Column

import scala.util.hashing.MurmurHash3

/** Pluggable text-embedding backend (SURVEY.md §2.5 V1).
  *
  * Contract: `embed` must be a PURE, deterministic, thread-safe
  * function of (text, dim) returning a unit-L2 `dim`-vector —
  * determinism is what lets index builds and Verify re-runs
  * hash-match (SURVEY.md §7.3). Implementations are instantiated
  * reflectively on driver AND executors (see [[Embed.loadBackend]]),
  * so any expensive state (an ONNX session, a tokenizer) belongs in
  * lazily-initialized instance fields, never in constructor work that
  * can't run on an executor.
  */
trait EmbedBackend extends Serializable {
  def embed(text: String, dim: Int): Array[Float]
}

/** Deterministic offline text embedding (SURVEY.md §2.5 V1).
  *
  * The reference embeds with ONNX all-MiniLM-L6-v2 (384-dim, unit
  * norm; /root/reference/app.py:35-36, indexer.py:11). That model is
  * unavailable offline, so the DEFAULT backend is a feature-hashing
  * stand-in with the same *contract*: pure function of the text,
  * fixed dimension, unit L2 norm, cosine/L2 comparable. Features are
  * lowercased word unigrams plus intra-word char trigrams,
  * signed-hashed into `dim` buckets (classic hashing trick), then
  * L2-normalized.
  *
  * Swap-in point for a real model — a flag, not a refactor: implement
  * [[EmbedBackend]] over an ONNX Runtime session for the public
  * all-MiniLM-L6-v2 weights (dim 384), put the jar on the classpath,
  * and set `-Dgraft.embed.backend=com.example.OnnxMiniLmBackend` on
  * the driver and executors (`spark.driver/executor.extraJavaOptions`
  * on a cluster). Every call site — the `EmbedText` codegen
  * expression included — dispatches through [[Embed.backend]], which
  * resolves the property once per JVM. The offline oracle keeps the
  * hashed-n-gram default (the property unset) so correctness gates
  * stay bit-stable.
  *
  * Determinism: MurmurHash3 with fixed seeds — stable across JVMs,
  * partitions and re-runs, so index builds and Verify re-runs
  * hash-match (SURVEY.md §7.3).
  */
object Embed {
  val DefaultDim = 64 // fixture dim (FIXTURES.md); 384 for MiniLM parity

  /** System property naming the [[EmbedBackend]] class to load; unset
    * or empty means [[HashedNgramBackend]]. */
  val BackendProp = "graft.embed.backend"

  private val IdxSeed = 0x5ca1ab1e
  private val SignSeed = 0x7ee1f00d

  /** The default hashed-n-gram backend (stateless object). */
  object HashedNgramBackend extends EmbedBackend {
    def embed(text: String, dim: Int): Array[Float] = {
      val v = new Array[Float](dim)
      if (text != null) {
        val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+")
        var i = 0
        while (i < toks.length) {
          val t = toks(i)
          if (t.nonEmpty) {
            addFeature(v, t, dim)
            var j = 0
            while (j + 3 <= t.length) { addFeature(v, t.substring(j, j + 3), dim); j += 1 }
          }
          i += 1
        }
      }
      normalize(v)
      v
    }
  }

  /** Reflectively resolve a backend: a Scala `object` (by its natural
    * name or its '$'-suffixed module class name) or a class with a
    * no-arg constructor. Fails fast with the property and class name
    * so a typo'd property surfaces at first embed, not as silent
    * fallback to the wrong vectors. */
  def loadBackend(className: String): EmbedBackend = {
    def moduleOrNew(cls: Class[_]): AnyRef =
      try cls.getField("MODULE$").get(null)
      catch { case _: NoSuchFieldException => cls.getDeclaredConstructor().newInstance().asInstanceOf[AnyRef] }
    val inst =
      try moduleOrNew(Class.forName(className))
      catch {
        // a Scala `object` named by its natural (forwarder) name has
        // neither MODULE$ nor a public no-arg ctor — retry the
        // '$'-suffixed module class before giving up
        case first: ReflectiveOperationException =>
          try moduleOrNew(Class.forName(className + "$"))
          catch {
            // keep BOTH resolution failures diagnosable: `first` as
            // the cause, the '$'-retry's own failure (which may be the
            // real reason, e.g. an ExceptionInInitializerError from
            // the object's static init) as suppressed. LinkageError is
            // matched explicitly because NonFatal excludes it; only
            // VM errors / interrupts propagate unwrapped
            case second if scala.util.control.NonFatal(second) ||
                second.isInstanceOf[LinkageError] =>
              val e = new IllegalArgumentException(
                s"$BackendProp=$className could not be instantiated: provide a Scala " +
                  "object or a class with a public no-arg constructor implementing " +
                  "graft.functions.EmbedBackend", first)
              e.addSuppressed(second)
              throw e
          }
      }
    inst match {
      case b: EmbedBackend => b
      case other => throw new IllegalArgumentException(
        s"$BackendProp=$className (${other.getClass.getName}) does not implement graft.functions.EmbedBackend")
    }
  }

  private[graft] def resolveBackend(prop: Option[String]): EmbedBackend =
    prop.map(_.trim).filter(_.nonEmpty).map(loadBackend).getOrElse(HashedNgramBackend)

  /** The active backend, resolved once per JVM from [[BackendProp]]. */
  lazy val backend: EmbedBackend = resolveBackend(sys.props.get(BackendProp))

  def embed(text: String, dim: Int): Array[Float] = backend.embed(text, dim)

  private def addFeature(v: Array[Float], f: String, dim: Int): Unit = {
    val idx = math.floorMod(MurmurHash3.stringHash(f, IdxSeed), dim)
    val sign = if ((MurmurHash3.stringHash(f, SignSeed) & 1) == 0) 1f else -1f
    v(idx) += sign
  }

  private def normalize(v: Array[Float]): Unit = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    if (s > 0) {
      val inv = 1.0 / math.sqrt(s)
      i = 0
      while (i < v.length) { v(i) = (v(i) * inv).toFloat; i += 1 }
    }
  }

  /** Static entry for codegen (EmbedText expression). */
  def embedArray(s: org.apache.spark.unsafe.types.UTF8String,
                 dim: Int): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      embed(if (s == null) "" else s.toString, dim))

  /** Canary against split-brain embeddings: the `EmbedText` expression
    * ships the DRIVER-resolved backend class in the plan, and every
    * executor-side embed asserts this JVM resolved the same one.
    * Without it, `-Dgraft.embed.backend` set on only one side would
    * silently mix two incompatible embedding spaces (query vectors
    * from one model, corpus vectors from another) — every search would
    * return garbage with no error. The check is a cached-string
    * equality (the JVM's resolved class name computed once), cheap
    * enough to leave always-on: a plan built by a DIFFERENT driver
    * (e.g. deserialized across a service boundary) carrying another
    * expectedBackend must still trip it, so it never disarms. */
  @volatile private var resolvedBackendName: String = null
  def assertBackend(expected: String): Unit = {
    var actual = resolvedBackendName
    if (actual == null) { actual = backend.getClass.getName; resolvedBackendName = actual }
    if (actual != expected)
      throw new IllegalStateException(
        s"graft.embed.backend split-brain: the plan was built with backend " +
          s"$expected but this JVM resolved $actual — set the property " +
          "identically on the driver and every executor")
  }
  private[graft] def resetBackendCheckForTests(): Unit = resolvedBackendName = null

  /** [[embedArray]] + the driver/executor [[assertBackend]] canary —
    * the call the EmbedText expression generates. */
  def embedArrayChecked(s: org.apache.spark.unsafe.types.UTF8String,
                        dim: Int, expectedBackend: String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    assertBackend(expectedBackend)
    embedArray(s, dim)
  }

  /** Native-expression column (codegen'd static call, no UDF
    * row-encoder round trip). */
  def embedCol(c: Column, dim: Int = DefaultDim): Column =
    org.apache.spark.sql.graft.shims.toColumn(
      EmbedText(org.apache.spark.sql.graft.shims.toExpression(c), dim))
}
