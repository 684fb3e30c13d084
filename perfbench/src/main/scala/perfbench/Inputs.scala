package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.corpus.Synthesizer
import graft.model.{CorpusRow, DictEntry}
import graft.tokenize.Tokenizer

/** Seeded inputs. Every document is `Synthesizer.contentFor` over a
  * `(repo, path)` key salted with the seed, so one seed gives one corpus
  * and the engine sees only the generated rows. */
object Inputs extends Serializable {
  val FilesPerRepo = 40

  /** Document `i` of corpus `tag` under `seed`; `version` > 0 gives the
    * same key with new content (an upsert). */
  def row(seed: Long, tag: String, i: Long, version: Int = 0): CorpusRow = {
    val repo = f"$tag$seed%x-${i / FilesPerRepo}%05d"
    val lang = Synthesizer.Langs((i % Synthesizer.Langs.length).toInt)._1
    val dir = Synthesizer.Pool(((i * 131) % 997).toInt)
    val file = Synthesizer.Pool(((i * 31 + 17) % 4999).toInt)
    val path = s"src/$dir/$file${i % FilesPerRepo}.$lang"
    val content = Synthesizer.contentFor(repo,
      if (version == 0) path else s"$path@v$version", lang)
    CorpusRow(repo, path, Synthesizer.sha256Hex(s"$repo@$version").take(40), lang, content)
  }

  /** Rows [from, until) of corpus `tag`, generated inside Spark tasks. */
  def corpus(spark: SparkSession, seed: Long, tag: String, from: Long, until: Long,
             partitions: Int): Dataset[CorpusRow] = {
    import spark.implicits._
    spark.range(from, until, 1, partitions).map(i => row(seed, tag, i))
  }

  def utf8Bytes(s: String): Long = s.getBytes(StandardCharsets.UTF_8).length.toLong

  /** One query: the text a user types, and the top-k it asks for. */
  final case class Query(text: String, k: Int)

  val Kinds: Seq[String] = Seq("FREE", "AND", "OR", "PHRASE", "BOOL")

  /** The query shapes, one per query of these five kinds in the engine's
    * committed query set (`src/main/resources/QUERIES.tsv`, by qid), in its
    * order: FREE 14, AND 7, OR 5, PHRASE 5, BOOL 15. Each keeps its row's
    * operators, phrases, boosts, patterns and NOT; its words become
    * placeholders filled by seed: `{T}` a term from the dictionary, `{O}`
    * a term the dictionary lacks (the row's made-up word), `{P2}`/`{P3}` a
    * quoted run of 2/3 adjacent tokens of a real document, `{C}` the first
    * letter of a term (a one-letter prefix pattern, as `s*`), `{W}` a
    * term's first letter, `?` and third letter (as `s?a`). The one row that
    * asks for more than 10 hits (qid 28, k = 20) asks for k = 100 here. */
  val Shapes: IndexedSeq[(String, Int)] = IndexedSeq(
    "{T} {T} {T}" -> 10, // 1
    "{T} {T} {T} {T} {T}" -> 10,
    "{T} {T}" -> 10,
    "{T} {T} {T}" -> 10,
    "{T} {T} {T}" -> 10, // 5
    "{T}" -> 10,
    "{T} {T}" -> 10,
    "{T} {T} {T} {T}" -> 10,
    "{T} {T} {T}" -> 10,
    "{T} {T} {T} {T} {T} {T}" -> 10, // 10
    "{T} AND {T}" -> 10,
    "{T} AND {T} AND {T}" -> 10,
    "{T} AND {T} AND {T}" -> 10,
    "{T} AND {T}" -> 10,
    "{T} AND {O}" -> 10, // 15
    "{T} AND {T} AND {T} AND {T}" -> 10,
    "{T} OR {T} OR {T}" -> 10,
    "{T} OR {O}" -> 10,
    "{T} OR {T}" -> 10,
    "{T} OR {T} OR {T} OR {T}" -> 10, // 20
    "{O} {O}" -> 10,
    "{T}" -> 10,
    "{P2}" -> 10,
    "{P3}" -> 10,
    "{P2}" -> 10, // 25
    "{P2}" -> 10,
    "\"{T} {O}\"" -> 10,
    "{T} {T} {T} {T}" -> 100,
    "{T} AND {T} AND {T} AND {T} AND {T}" -> 10,
    "{T} OR {T} OR {T} OR {T} OR {T} OR {T}" -> 10, // 30
    "({T} OR {T}) AND {T}" -> 10, // 37
    "{T} AND ({T} OR {T}) AND {T}" -> 10,
    "({T} AND {T}) OR ({T} AND {T})" -> 10,
    "({P2} OR {T}) AND {T}" -> 10, // 40
    "{P2} AND NOT {T}" -> 10,
    "({T} OR {P2}) AND NOT {O}" -> 10,
    "({P2}~3 OR {T}) AND {T}" -> 10,
    "({C}* OR {T}) AND {T}" -> 10,
    "(re:({T}|{T}) OR {T}) AND NOT {T}" -> 10, // 45
    "({C}* AND re:({T}|{T})) OR {P2}" -> 10,
    "{T}^2 {T} {T}^0.5" -> 10,
    "({P2}^2 OR {T}) AND {T}" -> 10,
    "({C}*^2 OR {T}^0.5) AND {T}" -> 10,
    "({T} OR {T}) AND ({T} OR {T})" -> 10, // 52
    "({T} OR {T} OR {T} OR {T})" -> 10,
    "({W}* OR {T}) AND {T}" -> 10) // 59

  /** Query `i`'s shape, k and df band. Shapes cycle in [[Shapes]] order;
    * bands cycle over 20 slots (hot 6, mid 8, rare 6), shifted by one slot
    * per shape cycle so every shape meets every band. Every seed runs the
    * same mix; only the drawn terms differ. */
  def shape(i: Int): (String, Int, String) = {
    val bands = Seq("hot" -> 6, "mid" -> 8, "rare" -> 6)
      .flatMap { case (b, n) => Seq.fill(n)(b) }
    val (text, k) = Shapes(i % Shapes.length)
    (text, k, bands((i / Shapes.length + i) % bands.length))
  }

  private val Slot = "\\{(T|O|P2|P3|C|W)\\}".r

  /** A seeded query mix over a built dictionary, shaped by [[shape]].
    * A query's terms come from one df band: `hot` the top 5% of terms by
    * df, `rare` the bottom 30%, `mid` the rest. Phrases are runs of
    * adjacent tokens of real documents, so most of them match. */
  def queries(seed: Long, n: Int, dict: Array[DictEntry],
              docs: Array[String]): Array[Query] = {
    val rng = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val byDf = dict.sortBy(e => (-e.df, e.term)).map(_.term)
    val hot = byDf.take(math.max(1, byDf.length / 20))
    val rare = byDf.takeRight(math.max(1, byDf.length * 3 / 10))
    val mid = byDf.slice(hot.length, byDf.length - rare.length)
    val vocab = byDf.toSet
    def oov(): String = Iterator.continually {
      Array.fill(7)(('a' + rng.nextInt(26)).toChar).mkString
    }.find(w => !vocab(w) && Tokenizer.tokenize(w).sameElements(Array(w))).get
    def pick(a: Array[String]) = a(rng.nextInt(a.length))
    def phrase(len: Int): String = {
      val toks = Iterator.continually(Tokenizer.tokenize(docs(rng.nextInt(docs.length))))
        .find(_.length >= len).get
      val j = rng.nextInt(toks.length - len + 1)
      "\"" + toks.slice(j, j + len).mkString(" ") + "\""
    }
    Array.tabulate(n) { i =>
      val (text, k, band) = shape(i)
      def term(): String = band match {
        case "hot" => pick(hot)
        case "rare" => pick(rare)
        case _ => pick(if (mid.nonEmpty) mid else hot)
      }
      def long(): String = Iterator.continually(term()).find(_.length >= 3).get
      Query(Slot.replaceAllIn(text, m => java.util.regex.Matcher.quoteReplacement(m.group(1) match {
        case "T" => term()
        case "O" => oov()
        case "P2" => phrase(2)
        case "P3" => phrase(3)
        case "C" => term().take(1)
        case _ => val t = long(); s"${t(0)}?${t(2)}"
      })), k)
    }
  }
}
