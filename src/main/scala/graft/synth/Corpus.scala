package graft.synth

/** Committed vocabularies + the deterministic Romanian bigram chain shared by
  * the page generator (low-perplexity "fluent" text follows the chain) and
  * the quantized LM of `graft.stages.Perplexity` (which scores against it).
  *
  * Everything here is a compile-time constant or a pure function of word
  * indices — no randomness, no I/O (FIXTURES.md §5 determinism rules).
  */
object Corpus {
  /** Romanian stopwords (multi-byte UTF-8 diacritics on purpose — they are
    * the byte-identity hazard the scrub stage must not disturb).
    */
  val roStopwords: Array[String] =
    ("și de la cu în pe o un este care nu se mai din fi ce pentru sunt sau " +
      "după prin între fără acest această fost doar toate poate când unde " +
      "cum dacă ei ele noi eu el ea al ai ale lui îi le își spre asupra " +
      "sub peste către însă totuși astfel precum ca așa atât mult foarte " +
      "bine nou mare mic").split(' ')

  val roContent: Array[String] =
    ("școală universitate învățământ educație carte cărți bibliotecă " +
      "profesor elev student lecție curs examen cercetare știință istorie " +
      "geografie limbă literatură poezie roman scriitor autor țară oraș sat " +
      "munte râu pădure câmpie bucurești cluj iași timișoara brașov " +
      "constanța familie copil părinte bunic prieten muncă lucru serviciu " +
      "companie firmă piață economie bani preț vânzare cumpărare client " +
      "produs calitate sănătate medic spital tratament medicament boală " +
      "mâncare băutură apă pâine lapte brânză carne legume fructe vin sport " +
      "fotbal echipă joc meci victorie antrenor muzică artă pictură teatru " +
      "film actor cântec dans tradiție obicei sărbătoare crăciun paște vară " +
      "iarnă primăvară toamnă soare ploaie zăpadă vânt timp an lună zi " +
      "noapte dimineață seară astăzi mâine ieri guvern lege drept instanță " +
      "ministru președinte partid alegeri vot cetățean societate cultură " +
      "internet calculator telefon mașină tren avion drum stradă casă " +
      "apartament grădină fereastră ușă masă scaun").split(' ')

  /** Full Romanian vocabulary of the chain: stopwords first (so stopword
    * fraction of fluent text is realistic), then content words.
    */
  val roVocab: Array[String] = roStopwords ++ roContent
  val V: Int = roVocab.length

  val enWords: Array[String] =
    ("the of and to in a is that it was for on are as with his they at be " +
      "this have from or one had by word but not what all were we when " +
      "your can said there use an each which she do how their if will up " +
      "other about out many then them these so some her would make like " +
      "him into time has look two more write go see number way could " +
      "people than first water been call who its now find long down day " +
      "did get come made may part").split(' ')

  val huWords: Array[String] =
    ("a az és hogy nem is egy meg ez de volt ha már csak mit ember még el " +
      "vagy mint lesz neki minden lehet nagyon itt most más akkor majd két " +
      "kell jól van hol mert közben például magyar ország város élet munka " +
      "iskola könyv").split(' ')

  /** Toxicity lexicon for the scrub stage (kept deliberately mild; the
    * operator matters, not the list — reference analogue: the adult-topic
    * gate `full_dataset_analysis/adult.py:8,19`).
    */
  val toxicLexicon: Array[String] =
    Array("prostule", "idiotule", "cretinule", "tâmpitule", "imbecilule")

  /** Deterministic bigram chain: the B allowed successors of word i.
    * Committed structure — both the generator and the LM derive from it.
    */
  val B = 8
  def successors(i: Int): Array[Int] = {
    val out = new Array[Int](B)
    var j = 0
    while (j < B) {
      out(j) = (((i * 7 + j * 13 + 1) % V) + V) % V
      j += 1
    }
    out
  }

  /** Unigram log-prob (natural log), uniform over the vocab, quantized to
    * Float so cross-partition float determinism holds.
    */
  val uniLogProb: Float = math.log(1.0 / V).toFloat
  /** In-chain bigram log-prob: 0.8 mass spread over B successors + backoff. */
  val chainLogProb: Float = math.log(0.8 / B + 0.2 / V).toFloat
  /** Backoff bigram log-prob for in-vocab non-successor words. */
  val backoffLogProb: Float = math.log(0.2 / V).toFloat
  /** Out-of-vocabulary log-prob (harsh — non-Romanian text scores high ppl). */
  val oovLogProb: Float = math.log(1e-6).toFloat
}
