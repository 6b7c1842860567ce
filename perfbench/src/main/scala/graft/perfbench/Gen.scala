package graft.perfbench

import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Every input a workload hands the program is
  * derived from the `--seed` argument alone; the truth tables (true match
  * pairs, planted near-duplicate ids, exact k-NN neighbours) are derived
  * beside the inputs and stay inside the benchmark. */
object Gen {

  /** An independent random stream per (seed, purpose), so adding a draw
    * to one generator does not shift every other input. */
  def rng(seed: Long, stream: String): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  /** Zipf(s) over ranks 0 until n by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def draw(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val consonants = "bcdfghjklmnprstvz"
  private val vowels = "aeiou"

  /** `n` distinct pronounceable lowercase words of 2 to `maxSyl`
    * syllables, in a seeded order. */
  def words(r: java.util.Random, n: Int, minSyl: Int, maxSyl: Int,
      reserved: Set[String] = Set.empty): Array[String] = {
    val out = new ArrayBuffer[String](n)
    val seen = scala.collection.mutable.HashSet.empty[String] ++= reserved
    while (out.size < n) {
      val syl = minSyl + r.nextInt(maxSyl - minSyl + 1)
      val sb = new StringBuilder
      (0 until syl).foreach { _ =>
        sb += consonants.charAt(r.nextInt(consonants.length))
        sb += vowels.charAt(r.nextInt(vowels.length))
      }
      if (r.nextInt(3) == 0) sb += consonants.charAt(r.nextInt(consonants.length))
      val w = sb.toString
      if (seen.add(w)) out += w
    }
    out.toArray
  }

  /** Order-sensitive digest of generated rows, for the same-seed /
    * different-seed self-check. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(xs: Any*): Unit = xs.foreach { x =>
      md.update(String.valueOf(x).getBytes("UTF-8")); md.update(0.toByte)
    }
    def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ------------------------------------------------------------ persons

  case class Person(pid: Long, first: String, last: String,
      birth: String, city: String)

  /** Left persons, the registry, and the true (left pid, registry pid)
    * pairs. A share of persons has no registry copy and the registry
    * holds distractors with no left person, so a pipeline that accepts
    * every best candidate loses precision. */
  case class PersonData(left: Array[Person], registry: Array[Person],
      truth: Map[Long, Long], digest: String)

  def persons(seed: Long, n: Int): PersonData = {
    val vr = rng(seed, "person-vocab")
    val firstV = words(vr, 3000, 2, 3)
    val lastV = words(vr, 8000, 2, 4, firstV.toSet)
    val cityV = words(vr, 400, 2, 4)
    val zf = new Zipf(firstV.length, 1.0)
    val zl = new Zipf(lastV.length, 1.0)
    val zc = new Zipf(cityV.length, 1.1)
    val r = rng(seed, "persons")
    def birth(): String = f"${1930 + r.nextInt(76)}%04d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"
    def person(pid: Long): Person = Person(pid, firstV(zf.draw(r)),
      lastV(zl.draw(r)), birth(), cityV(zc.draw(r)))
    val left = Array.tabulate(n)(i => person(i.toLong))
    val pr = rng(seed, "perturb")
    val copies = left.filter(_ => pr.nextDouble() < 0.85).map(p => p -> perturb(pr, p, cityV))
    val distractors = Array.fill(n / 7)(person(-1L))
    // registry ids are a seeded permutation, so id order leaks nothing
    val regRows = copies.map(_._2) ++ distractors
    val ids = shuffled(rng(seed, "registry-ids"), regRows.indices.toArray)
    val registry = regRows.zip(ids).map { case (p, i) => p.copy(pid = 10000000L + i) }
    val truth = copies.indices.map(i => copies(i)._1.pid -> registry(i).pid).toMap
    val d = new Digest
    left.foreach(p => d.add(p.pid, p.first, p.last, p.birth, p.city))
    registry.foreach(p => d.add(p.pid, p.first, p.last, p.birth, p.city))
    PersonData(left, shuffled(rng(seed, "registry-order"), registry), truth, d.hex)
  }

  def shuffled[T](r: java.util.Random, xs: Array[T]): Array[T] = {
    val a = xs.clone()
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  private val accents = Map('e' -> "é", 'a' -> "à", 'c' -> "ç", 'o' -> "ô",
    'i' -> "ï", 'u' -> "ù")

  /** Seeded typos of the civil-state kind: deletion, transposition,
    * accent variant, first/last swap, date digit and day/month edits,
    * city rename, and a few nulls. */
  private def perturb(r: java.util.Random, p: Person, cities: Array[String]): Person = {
    def delete(s: String) =
      if (s.length < 4) s else { val i = 1 + r.nextInt(s.length - 2); s.patch(i, "", 1) }
    def transpose(s: String) =
      if (s.length < 3) s else {
        val i = r.nextInt(s.length - 1)
        s.substring(0, i) + s.charAt(i + 1) + s.charAt(i) + s.substring(i + 2)
      }
    def accent(s: String) = {
      val idx = s.indices.filter(i => accents.contains(s.charAt(i)))
      if (idx.isEmpty) s else {
        val i = idx(r.nextInt(idx.size)); s.patch(i, accents(s.charAt(i)), 1)
      }
    }
    var first = p.first; var last = p.last; var birth = p.birth; var city = p.city
    if (r.nextDouble() < 0.15) last = delete(last)
    if (r.nextDouble() < 0.10) first = transpose(first)
    if (r.nextDouble() < 0.20) last = accent(last)
    if (r.nextDouble() < 0.10) first = accent(first)
    if (r.nextDouble() < 0.05) { val t = first; first = last; last = t }
    if (r.nextDouble() < 0.10) {
      val i = r.nextInt(8)
      birth = birth.patch(i, ((birth.charAt(i) - '0' + 1 + r.nextInt(8)) % 10).toString, 1)
    }
    if (r.nextDouble() < 0.05) birth = birth.substring(0, 4) + birth.substring(6, 8) + birth.substring(4, 6)
    if (r.nextDouble() < 0.08) city = cities(r.nextInt(cities.length))
    if (r.nextDouble() < 0.01) city = null
    if (r.nextDouble() < 0.01) birth = null
    Person(p.pid, first, last, birth, city)
  }

  // ---------------------------------------------------------- documents

  /** Stopwords lead the Zipf vocabulary, so generated prose passes the
    * Gopher stopword rule the way natural text does. */
  val stopwords: Array[String] = Array("the", "of", "and", "to", "that",
    "with", "have", "be")

  case class Doc(id: Long, text: String, tokens: Array[String], vec: Array[Float])

  /** Vocabulary, embedding centres and the document draws of the ingest
    * workload. */
  final class DocGen(seed: Long) {
    private val dim = 64
    private val centres = 32
    val vocab: Array[String] =
      stopwords ++ words(rng(seed, "doc-vocab"), 10000 - stopwords.length, 1, 4, stopwords.toSet)
    private val zipf = new Zipf(vocab.length, 1.0)
    val centre: Array[Array[Float]] = {
      val r = rng(seed, "centres")
      Array.fill(centres)(unit(Array.fill(dim)(r.nextGaussian().toFloat)))
    }
    def token(r: java.util.Random): String = vocab(zipf.draw(r))

    def vector(r: java.util.Random): Array[Float] = {
      val c = centre(r.nextInt(centres))
      unit(Array.tabulate(dim)(i => c(i) + 0.25f * r.nextGaussian().toFloat))
    }

    /** A fresh document: 50-1000 Zipf words in lines of ~12 words, some
      * carrying an email, IPv4 address or phone number. The length is a
      * function of the id (spread evenly over the range), so every seed
      * hands the program the same amount of text. */
    def doc(r: java.util.Random, id: Long): Doc = {
      val n = 50 + (id * 7919L % 951L).toInt
      val toks = Array.fill(n)(token(r))
      Doc(id, render(r, toks), toks, vector(r))
    }

    /** A document the Gopher gate rejects: too short, or symbol-heavy. */
    def junk(r: java.util.Random, id: Long): Doc =
      if (r.nextBoolean()) {
        val toks = Array.fill(5 + r.nextInt(30))(token(r))
        Doc(id, toks.mkString(" "), toks, vector(r))
      } else {
        val toks = Array.fill(60 + r.nextInt(100))(token(r))
        Doc(id, toks.map(t => s"# $t ...").mkString("\n"), toks, vector(r))
      }

    private def render(r: java.util.Random, toks: Array[String]): String = {
      val sb = new StringBuilder
      toks.indices.foreach { i =>
        if (i > 0) sb.append(if (i % 12 == 0) '\n' else ' ')
        sb.append(toks(i))
        if (r.nextInt(400) == 0) sb.append(' ').append(pii(r))
      }
      sb.toString
    }

    private def pii(r: java.util.Random): String = r.nextInt(3) match {
      case 0 => s"${vocab(8 + r.nextInt(500))}.${r.nextInt(100)}@example.org"
      case 1 => s"10.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}"
      case _ => f"+33 6 ${r.nextInt(100)}%02d ${r.nextInt(100)}%02d ${r.nextInt(100)}%02d"
    }

    /** A copy of `src` under a new id with a share `frac` of its words
      * replaced (at least one when frac > 0); its vector is perturbed
      * slightly. frac = 0 gives an exact duplicate of the text. */
    def nearCopy(r: java.util.Random, src: Doc, id: Long, frac: Double): Doc = {
      val toks = src.tokens.clone()
      val edits = if (frac <= 0) 0 else math.max(1, (toks.length * frac).toInt)
      (0 until edits).foreach(_ => toks(r.nextInt(toks.length)) = token(r))
      val text = if (edits == 0) src.text else render(r, toks)
      Doc(id, text, toks, unit(src.vec.map(x => x + 0.01f * r.nextGaussian().toFloat)))
    }
  }

  def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  def digestDocs(docs: Iterable[Doc], d: Digest): Unit =
    docs.foreach(x => d.add(x.id, x.text, x.tokens.mkString(" "), x.vec.mkString(",")))
}
