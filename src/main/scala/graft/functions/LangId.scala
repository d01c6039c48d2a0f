package graft.functions

import graft.core.WhitespaceTokenizer

/** N-gram/stopword-heuristic language identification (text-analysis operator
  * for the training-data pipeline). Scores each candidate language by
  * stopword hit ratio; CJK scripts are detected by codepoint range first.
  * Deterministic, dependency-free; trait-free because it is a pure function.
  */
object LangId {
  private val stopwords: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "it", "that", "for",
      "on", "with", "as", "this", "was", "are", "be", "at", "by", "not"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu",
      "mit", "auf", "für", "von", "den", "im", "sich", "des", "dem", "auch", "es"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "una", "es", "no",
      "los", "las", "se", "por", "con", "para", "su", "al", "lo", "como"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "est", "ne",
      "que", "dans", "pour", "pas", "sur", "avec", "ce", "il", "au", "du"))

  private def cjkRatio(s: String): Double = {
    if (s.isEmpty) return 0.0
    var cjk = 0; var letters = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        letters += 1
        val b = Character.UnicodeScript.of(c)
        if (b == Character.UnicodeScript.HAN || b == Character.UnicodeScript.HIRAGANA ||
          b == Character.UnicodeScript.KATAKANA || b == Character.UnicodeScript.HANGUL) cjk += 1
      }
      i += 1
    }
    if (letters == 0) 0.0 else cjk.toDouble / letters
  }

  /** Best-guess ISO code; "und" (undetermined) when nothing scores. */
  def detect(text: String): String = {
    if (text == null || text.trim.isEmpty) return "und"
    if (cjkRatio(text) > 0.2) return "zh"
    val toks = WhitespaceTokenizer.tokens(text.toLowerCase)
    if (toks.isEmpty) return "und"
    val scores = stopwords.map { case (lang, sw) =>
      lang -> toks.count(sw.contains).toDouble / toks.length
    }
    val (bestLang, bestScore) = scores.maxBy { case (l, sc) => (sc, l) }
    if (bestScore <= 0.0) "und" else bestLang
  }
}
