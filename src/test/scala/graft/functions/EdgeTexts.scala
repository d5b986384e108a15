package graft.functions

/** Texts on which a compiled kernel most easily departs from the Column
  * tokenization `split(lower(trim(text)), "\\s+")`. Every kernel-vs-Column
  * equivalence spec takes them as extra inputs.
  *  - Java's `\s` separators other than space and LF: U+000B, form feed,
  *    CR LF, and tabs at both ends, which `trim` (ASCII space only) keeps.
  *  - Unicode spaces Java's `\s` does NOT split on: U+00A0, U+2003,
  *    U+3000 and U+0085 stay inside their token.
  *  - Locale-sensitive case: 'İ' lowers to two codepoints, 'I' to 'i'.
  *  - Empty and all-whitespace texts.
  */
object EdgeTexts {
  val whitespace: Seq[String] = Seq(
    "a\u000Bb", "x \f y", "line one\r\nline two", "\tleading and trailing\t",
    "one\u000Btwo\fthree\r\nfour\tfive six",
    "nbsp\u00A0joins", "em\u2003space", "ideographic\u3000space", "next\u0085line",
    "a\u00A0b c\u2003d e\u3000f g\u0085h the",
    "\u0130stanbul I \u0131", "", "   ", "\t")
}
