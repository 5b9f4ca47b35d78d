package perfbench

/** Inputs made from the seed alone: the program never sees the seed. */
object Gen {

  /** One S3 notification: `put` false is an ObjectRemoved:Delete. */
  final case class Event(key: String, put: Boolean, category: String, tenant: String)

  final case class Events(events: IndexedSeq[Event], texts: Map[String, String])

  private val Categories = 5
  val Tenants = 8

  /** `n` events over `n / 5` keys with `deleteShare` deletes — the shape of
    * the `events` fixture (about five events per key, about 5% deletes).
    * A key's category and tenant are fixed, so the routed layout never
    * moves a key between partitions. Each key's object body is 30 to 60
    * words drawn from a Zipf-like vocabulary. */
  def events(seed: Long, n: Int, deleteShare: Double): Events = {
    val r = new scala.util.Random(seed)
    val nKeys = math.max(n / 5, 1)
    val vocab = IndexedSeq.tabulate(4000)(i => "w" + java.lang.Long.toString(i * 2654435761L % 1000003L, 36))
    def word(): String = vocab(math.min((math.pow(r.nextDouble(), 2.5) * vocab.length).toInt, vocab.length - 1))
    val keys = IndexedSeq.tabulate(nKeys)(i => f"obj-$seed%x-$i%06d")
    val texts = keys.map(k => k -> Seq.fill(30 + r.nextInt(31))(word()).mkString(" ")).toMap
    val evs = IndexedSeq.fill(n) {
      val i = r.nextInt(nKeys)
      Event(keys(i), r.nextDouble() >= deleteShare, s"c${i % Categories}", (i % Tenants).toString)
    }
    Events(evs, texts)
  }

  def notificationJson(e: Event): String = {
    val name = if (e.put) "ObjectCreated:Put" else "ObjectRemoved:Delete"
    s"""{"Records":[{"eventVersion":"2.2","eventSource":"ceph:s3","eventName":"$name",""" +
      s""""s3":{"bucket":{"name":"perfbench"},"object":{"key":${Json.str(e.key)},"size":1,""" +
      s""""tags":{"category":"${e.category}","tenant":"${e.tenant}"}}}}]}"""
  }

  /** Last write wins in arrival order: the live keys and their tags. */
  def liveAfter(events: Seq[Event]): Map[String, Event] =
    events.foldLeft(Map.empty[String, Event]) { (m, e) =>
      if (e.put) m.updated(e.key, e) else m - e.key
    }

  /** Clustered unit vectors: `clusters` random centres, each point its
    * centre plus Gaussian noise of `spread`, normalised. */
  final class Clustered(seed: Long, dim: Int, clusters: Int, spread: Double) {
    private val r = new scala.util.Random(seed)
    private val centres = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian()))

    def next(): Array[Float] = {
      val c = centres(r.nextInt(clusters))
      normalise(Array.tabulate(dim)(i => c(i) + spread * r.nextGaussian()))
    }

    /** `v` moved by noise of `scale` and renormalised — a query near `v`. */
    def perturb(v: Array[Float], scale: Double): Array[Float] =
      normalise(Array.tabulate(dim)(i => v(i) + scale * r.nextGaussian()))

    def rng: scala.util.Random = r
  }

  def normalise(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
}
