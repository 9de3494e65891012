package graft.core

/** Port of the reference's standard-mode parser
  * (/root/reference/extractor/parsers/standard.py).
  */
object Entities {

  /** extract_entities (standard.py:21-36): regex findall per entity type,
    * omitting empty types; insertion order email→phone→date→currency→url→ssn
    * is part of the JSON byte contract. The phone pattern has one capture
    * group, so findall returns the group (often ''), not the full match.
    */
  def extractEntities(text: String): List[(String, List[String])] =
    Semantics.entityPatterns.flatMap { case (name, pat) =>
      val matches = Rx(pat).findall(text)
      if (matches.nonEmpty) Some(name -> matches) else None
    }
}
