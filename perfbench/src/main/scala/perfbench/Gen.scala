package perfbench

/** Seeded inputs owned by the benchmark: a synthetic source-code corpus and
  * a query stream over it.
  *
  * The corpus has the same shape as the library's own generator (four
  * languages, keyword-led lines, a log-uniform identifier vocabulary of
  * 5000 ranks), but lives here so that edits to the library cannot move the
  * workload. Every value is a pure function of (seed, row), so executors
  * generate rows in parallel and the same seed always gives the same bytes.
  */
object Gen {

  final case class Doc(docId: Long, repo: String, path: String, lang: String, content: String)

  private val langs = Array("scala", "c", "py", "js")

  private val keywords = Array(
    Array("def", "val", "var", "if", "else", "match", "case", "return", "for", "while", "class", "object", "import", "new", "override"),
    Array("int", "char", "void", "if", "else", "return", "for", "while", "struct", "static", "const", "switch", "case", "break", "sizeof"),
    Array("def", "if", "else", "elif", "return", "for", "while", "class", "import", "from", "lambda", "yield", "with", "try", "except"),
    Array("function", "var", "let", "const", "if", "else", "return", "for", "while", "class", "import", "export", "new", "async", "await"))

  val VocabSize = 5000

  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** The `stream`-th draw for row `row` under `seed`. The seed is mixed
    * before the row: `seed ^ row` alone would only permute rows between
    * small seeds, giving every such seed the same corpus in another order.
    */
  def draw(seed: Long, row: Long, stream: Long): Long =
    splitmix64(splitmix64(splitmix64(seed) ^ row) ^ (stream * 0x632be59bd9b4e019L))

  private def below(bits: Long, n: Long): Int = java.lang.Long.remainderUnsigned(bits, n).toInt

  private def uniform(bits: Long): Double = (bits >>> 11).toDouble / (1L << 53).toDouble

  /** Log-uniform rank in [0, VocabSize): density ~ 1/rank. */
  private def zipfRank(u: Double): Int = math.min(math.pow(VocabSize.toDouble, u).toInt, VocabSize - 1)

  /** Identifier of a vocabulary rank: low ranks are short and common. */
  def ident(rank: Int): String = {
    val len = 2 + rank % 9
    val sb = new StringBuilder(len)
    var x = splitmix64(rank.toLong * 0x9e3779b97f4a7c15L + 12345L)
    var i = 0
    while (i < len) {
      sb.append(('a' + below(x, 26L)).toChar)
      x = splitmix64(x)
      i += 1
    }
    sb.toString
  }

  def doc(seed: Long, i: Long): Doc = {
    val li = below(draw(seed, i, 0), langs.length.toLong)
    val kws = keywords(li)
    val repo = f"org${below(draw(seed, i, 1), 200L)}%03d/repo${below(draw(seed, i, 2), 50L)}%03d"
    val path = s"src/m${below(draw(seed, i, 3), 20L)}/File$i.${langs(li)}"
    val nLines = 5 + below(draw(seed, i, 6), 40L)
    val sb = new StringBuilder(nLines * 40)
    var stream = 16L
    def next(): Long = { val d = draw(seed, i, stream); stream += 1; d }
    var ln = 0
    while (ln < nLines) {
      val kw = kws(below(next(), kws.length.toLong))
      val id1 = ident(zipfRank(uniform(next())))
      val id2 = ident(zipfRank(uniform(next())))
      val num = below(next(), 1000L)
      sb.append(below(next(), 4L) match {
        case 0 => s"$kw $id1 = $id2($num);"
        case 1 => s"if ($id1 != $num) return $id2;"
        case 2 => s"$kw $id1($id2) { $id2 = $id1 + $num }"
        case _ => s"while ($id1 < $num) { $id2 += 1 }"
      }).append('\n')
      ln += 1
    }
    Doc(i, repo, path, langs(li), sb.toString)
  }

  /** Order-independent 64-bit digest of a document (summed over a corpus). */
  def docDigest(d: Doc): Long = splitmix64(d.docId ^ fnv64(d.content))

  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    h
  }

  // ---- query stream -------------------------------------------------------

  /** Query classes. `rare`: one or two rare identifiers (short posting
    * lists). `hot_rare`: a keyword present in most documents plus a rare
    * identifier, the case where the hot list dominates the walk. `multi`:
    * three mid-frequency identifiers.
    */
  val Classes: Seq[String] = Seq("rare", "hot_rare", "multi")

  final case class Query(id: Int, cls: String, text: String)

  private val hotWords = Array("if", "return", "while", "for", "else", "class")

  private def q(seed: Long, id: Int, stream: Long): Long = draw(seed ^ 0x5155L, id.toLong, stream)

  private def rareIdent(seed: Long, id: Int, stream: Long): String =
    ident(1000 + below(q(seed, id, stream), (VocabSize - 1000).toLong))

  /** `n` queries. The seed picks the identifiers; the shape is fixed so that
    * seeds differ in terms, not in mix: the first 40% are `rare` (alternately
    * one and two identifiers), the next 30% `hot_rare` (keywords in turn),
    * the rest `multi` (one identifier from each of three frequency bands).
    */
  def queryPool(seed: Long, n: Int): IndexedSeq[Query] = (0 until n).map { id =>
    val f = id.toDouble / n
    if (f < 0.4) {
      val text = if (id % 2 == 0) rareIdent(seed, id, 2) else s"${rareIdent(seed, id, 2)} ${rareIdent(seed, id, 3)}"
      Query(id, "rare", text)
    } else if (f < 0.7) Query(id, "hot_rare", s"${hotWords(id % hotWords.length)} ${rareIdent(seed, id, 2)}")
    else {
      val bands = Seq((5, 40), (40, 120), (120, 300))
      Query(id, "multi", bands.zipWithIndex.map { case ((lo, hi), b) =>
        ident(lo + below(q(seed, id, 4L + b), (hi - lo).toLong))
      }.mkString(" "))
    }
  }

  /** Seeded sequence of `n` pool indices: rounds that each send every query
    * once, in a seeded order. Every query then has the same share of any
    * long stretch, so the latency percentiles of a mixed pool do not move
    * with the sampled class shares.
    */
  def stream(seed: Long, poolSize: Int, n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val round = Array.range(0, poolSize)
    var i = 0
    while (i < n) {
      val r = i / poolSize
      var j = poolSize - 1
      while (j > 0) {
        val k = below(draw(seed ^ 0x57e4L, r.toLong, j.toLong), (j + 1).toLong)
        val t = round(j); round(j) = round(k); round(k) = t
        j -= 1
      }
      var j2 = 0
      while (j2 < poolSize && i < n) { out(i) = round(j2); i += 1; j2 += 1 }
    }
    out
  }

  def poolDigest(pool: Seq[Query]): Long =
    pool.foldLeft(0L)((h, q) => splitmix64(h ^ fnv64(q.cls + ":" + q.text)))

  def streamDigest(s: Array[Int]): Long = s.foldLeft(0L)((h, i) => splitmix64(h ^ i))
}
