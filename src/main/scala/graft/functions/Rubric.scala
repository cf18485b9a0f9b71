package graft.functions

/** The confidence rubric as CONFIG, not scattered constants — the
  * externalization the reference planned but never shipped
  * (`configs/confidence_rubric.yaml` is a 0-byte stub; the values live
  * inline at step3_attempt1.py:289-304,415-493 and
  * step2_attempt1.py:44-58). Every scoring expression reads THIS module
  * ([[Exprs.matchScore]], [[Exprs.classRank]],
  * graft.operators.PortCoPipeline.portcos), so retuning a weight or
  * threshold is a one-site change.
  *
  * Values are the reference's own; changing any of them intentionally
  * diverges from the oracle-checked semantics.
  */
object Rubric {

  // ---- X14 match-score weights (step3_attempt1.py:289-304) ----
  val TypeWhitelistWeight = 1.0 // entity @type in the org whitelist
  val UrlDomainWeight     = 0.9 // entity url domain == card anchor domain
  val LogoDomainWeight    = 0.6 // logo domain == card anchor/img domain
  val NameMatchWeight     = 0.7 // entity name matches the card's X22 hint
  val InsideCardWeight    = 0.3 // entity's script occurs inside the card

  // ---- X14 confidence thresholds (step3_attempt1.py:415-493) ----
  val RankA = 1.8 // best-card score >= RankA -> "A"
  val RankB = 1.2 // best-card score >= RankB -> "B"
  // below RankB: org-like with a card -> "C" (weak score kept);
  // org-like with NO card on the page -> "D" (score forced to 0.0)

  // ---- X20 class rank word-sets (step2_attempt1.py:44-52) ----
  // a class ranks X when every word of any set is a token substring
  val RankSetsA: Seq[Seq[String]] = Seq(
    Seq("portfolio", "card"), Seq("portfolio", "item"),
    Seq("investment", "card"), Seq("investment", "item"),
    Seq("investment", "box"))
  val RankSetsB: Seq[Seq[String]] = Seq(
    Seq("portfolio"), Seq("investment"), Seq("company"))
  val RankSetsC: Seq[Seq[String]] = Seq(
    Seq("item"), Seq("box"), Seq("card"), Seq("logo"))
}
