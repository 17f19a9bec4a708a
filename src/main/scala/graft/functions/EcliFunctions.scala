package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** European Case Law Identifier (ECLI) normalization / validation /
  * extraction as pure column expressions.
  *
  * Semantics re-derived from the reference validator
  * (validator/EcliValidator.java:29-230):
  *  - normalize: trim, uppercase, prepend "ECLI:" unless already prefixed
  *    or in the EU short form ("EU:…") (:135-144);
  *  - master format: `^ECLI:[A-Z]{2}:[A-Z][A-Z0-9]{0,6}:\d{4}:[A-Z0-9.]{1,25}$`
  *    or the EU short form `^[A-Z]{2}:[A-Z]:\d{4}:[A-Z0-9.]{1,25}$` (:30-38);
  *  - country ∈ EU/ISO set incl. EL/UK/EU exceptions (:44-50);
  *  - court code 1-7 chars starting with a letter (enforced by the regex);
  *  - year in [1900, currentYear+1] (:203-216) — we take the reference year
  *    as an explicit parameter instead of `Year.now()` so the pipeline stays
  *    deterministic (SURVEY.md §7.5 determinism rule);
  *  - ordinal 1-25 chars of [A-Z0-9.] (enforced by the regex).
  *
  * The whole validator is a deterministic boolean column expression —
  * codegen'd, no UDF (SURVEY.md §2.2 P15).
  */
object EcliFunctions {

  val ValidCountryCodes: Seq[String] = Seq(
    "AT", "BE", "BG", "HR", "CY", "CZ", "DK", "EE", "FI", "FR", "DE", "GR",
    "HU", "IE", "IT", "LV", "LT", "LU", "MT", "NL", "PL", "PT", "RO", "SK",
    "SI", "ES", "SE", "EL", "UK", "EU")

  val GermanCourtCodes: Seq[String] = Seq(
    "BAG", "BGH", "BSG", "BVERWG", "BPATG", "BFH", "BVERFG",
    "LAG", "OLG", "LSG", "OVG", "VG", "SG", "FG", "AG")

  private val MasterRe = "^ECLI:[A-Z]{2}:[A-Z][A-Z0-9]{0,6}:[0-9]{4}:[A-Z0-9.]{1,25}$"
  private val EuShortRe = "^[A-Z]{2}:[A-Z]:[0-9]{4}:[A-Z0-9.]{1,25}$"
  // find-all form (no anchors), applied to free text after uppercasing
  private val FindRe = "(ECLI:)?[A-Z]{2}:[A-Z][A-Z0-9]{0,6}:[0-9]{4}:[A-Z0-9.]{1,25}"

  /** trim + upper + prepend ECLI: unless already "ECLI:…" or "EU:…". */
  def normalizeEcli(ecli: Column): Column = {
    val up = upper(trim(ecli))
    when(up.startsWith("ECLI:") || up.startsWith("EU:"), up)
      .otherwise(concat(lit("ECLI:"), up))
  }

  /** Split a normalized ECLI into (country, court, year, ordinal) struct. */
  def parseEcli(normalized: Column): Column = {
    val body = when(normalized.startsWith("ECLI:"), substring_index(normalized, "ECLI:", -1))
      .otherwise(normalized)
    val parts = split(body, ":", 4)
    struct(
      element_at(parts, 1).as("country"),
      element_at(parts, 2).as("court"),
      element_at(parts, 3).as("year"),
      element_at(parts, 4).as("ordinal"))
  }

  /** Full validity predicate. `referenceYear` replaces the reference's
    * nondeterministic `Year.now()` (validity: 1900 <= y <= referenceYear+1). */
  def isValidEcli(ecli: Column, referenceYear: Int = 2026): Column = {
    val norm = normalizeEcli(ecli)
    val formatOk = norm.rlike(MasterRe) || norm.rlike(EuShortRe)
    val p = parseEcli(norm)
    val yearOk = p.getField("year").cast("int").between(1900, referenceYear + 1)
    val countryOk = p.getField("country").isin(ValidCountryCodes: _*)
    ecli.isNotNull && length(trim(ecli)) > lit(0) && formatOk && countryOk && yearOk
  }

  /** Extract all valid, normalized, distinct ECLIs from free text
    * (reference: validator/EcliValidator.java:102-125). Pure expressions:
    * regexp_extract_all → normalize → filter(valid) → array_distinct. */
  def extractEclis(text: Column, referenceYear: Int = 2026): Column = {
    val found = regexp_extract_all(upper(text), lit(FindRe), lit(0))
    val normalized = transform(found, e =>
      when(e.startsWith("ECLI:") || e.startsWith("EU:"), e)
        .otherwise(concat(lit("ECLI:"), e)))
    array_distinct(filter(normalized, e => isValidEcli(e, referenceYear)))
  }
}
