package graft.schema

/** Typed data model of the engine (SURVEY.md §1).
  *
  * One row = one failure case — a nested, fixed-schema document (reference
  * spec: /root/reference/requirements.md:107-142, built in
  * /root/reference/src/extract.py:49-281). Missing fields default to
  * ""/[]/0, never null (extract.py:107,130,180,193-195,237,245,260), which
  * keeps required-field validation a plain emptiness test (F3).
  */
final case class Casualties(deaths: Int, injuries: Int)

final case class MultimediaItem(id: String, caption: String)

final case class Images(representative: String, multimedia: Seq[MultimediaItem])

/** Scenario categories, each a list of ≤3-item groups
  * (extract.py:369-371).
  */
final case class Scenario(
    cause: Seq[Seq[String]],
    action: Seq[Seq[String]],
    result: Seq[Seq[String]])

final case class FailureCase(
    case_id: String,
    url: String,
    case_name: String,
    date: String, // ISO when normalized, raw passthrough otherwise (P2)
    location: String,
    facility: String,
    summary: String,
    phenomenon: String,
    process: String,
    cause: String,
    response: String,
    countermeasure: String,
    knowledge: Seq[String],
    background: String,
    scenario: Scenario,
    images: Images,
    sources: Seq[String],
    casualties: Casualties,
    financial_damage: String,
    social_impact: String,
    notes: String,
    field: String,
    authors: Seq[String])
