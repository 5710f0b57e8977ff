package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.core.tags.Tags
import graft.core.tags.Tags.{MatchSpec, NewTagValue}

/** Golden cases ported 1:1 from /root/reference/database/tests/
  * test_{tag_diff,new_tag_value,fix_name,tag_alternatives}.sql. */
class TagsSpec extends AnyFunSuite {

  // ---- fix_name (test_fix_name.sql) ----
  test("fix_name golden") {
    assert(Tags.fixName("GÄVLE KOMMUN") == "Gävle kommun")
    assert(Tags.fixName("GAVLEGÅRDARNA AB") == "Gavlegårdarna AB")
    assert(Tags.fixName("FÖRSKOLAN VÄXTHUSET INGER ÖSTLUND AKTIEBOLAG") ==
      "Förskolan Växthuset Inger Östlund Aktiebolag")
    assert(Tags.fixName("  ") == null)
    assert(Tags.fixName(null) == null)
    // PG 3-arg REGEXP_REPLACE is non-global: only the FIRST occurrence of
    // each pattern is replaced (ADVICE r1)
    assert(Tags.fixName("AB VOLVO AB") == "AB Volvo Ab")
    assert(Tags.fixName("KOMMUN KOMMUN") == "kommun Kommun")
  }

  // ---- process_tags ingest normalizer (replication/process_tags.py:4-37) ----
  test("process_tags golden") {
    assert(Tags.processTagValue("wheelchair", "yes") == "true")
    assert(Tags.processTagValue("wheelchair", "no") == "false")
    assert(Tags.processTagValue("amenity", "school") == "school")
    // ';' -> jsonb array text, elements processed recursively
    assert(Tags.processTagValue("cuisine", "pizza;kebab") == "[\"pizza\", \"kebab\"]")
    assert(Tags.processTagValue("oneway", "yes;no") == "[true, false]")
    // free-text exclusions stay verbatim
    assert(Tags.processTagValue("fixme", "yes") == "yes")
    assert(Tags.processTagValue("description", "a;b") == "a;b")
    assert(Tags.processTagValue("source", "no") == "no")
    assert(Tags.processTagValue("source:date", "2024;2025") == "2024;2025")
    assert(Tags.processTagValue("source2", "no") == "false",
      "only source and source:* are excluded, not every source-prefixed key")
    assert(Tags.processTags(Map("fixme" -> "yes", "lit" -> "yes")) ==
      Map("fixme" -> "yes", "lit" -> "true"))
  }

  // ---- new_tag_value (test_new_tag_value.sql) ----
  test("fallback replace if distinct") {
    assert(Tags.newTagValue("arandomtag", "a", "b") == NewTagValue(true, "a"))
    assert(Tags.newTagValue("arandomtag", null, "b") == NewTagValue(true, null))
  }
  test("phone rules") {
    assert(Tags.newTagValue("contact:website", "+46 12345678", "+46 00000000") ==
      NewTagValue(true, "+46 12345678"))
    assert(Tags.newTagValue("contact:phone", "+46 12345678", "012-34 56 78") ==
      NewTagValue(false, null))
  }
  test("website rules") {
    assert(Tags.newTagValue("contact:website", "http://a.example.com", "https://b.example.com") ==
      NewTagValue(true, "http://a.example.com"))
    assert(Tags.newTagValue("contact:website", "https://a.example.com", "https://a.example.com") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("contact:website", "http://example.com", "https://example.com") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("website", "http://example.com", "https://example.com") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("contact:website", "https://example.com", "http://example.com") ==
      NewTagValue(true, "https://example.com"))
    assert(Tags.newTagValue("website", "https://example.com", "http://example.com") ==
      NewTagValue(true, "https://example.com"))
  }
  test("operator rules") {
    assert(Tags.newTagValue("operator", "Hagfors kommun", "Karlskoga kommun") ==
      NewTagValue(true, "Hagfors kommun"))
    assert(Tags.newTagValue("operator", "Hagfors kommun", "Hagfors Kommun") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("operator", "Göteborg kommun", "Göteborgs kommun") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("operator", "Göteborg kommun", "Göteborgs Stad") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("operator", "Göteborgs Stad", "Göteborg kommun") ==
      NewTagValue(false, null))
    assert(Tags.newTagValue("operator", "Göteborg kommun", "Privata Skolan AB") ==
      NewTagValue(true, "Göteborgs Stad"))
  }
  test("generator:output:electricity rules") {
    val k = "generator:output:electricity"
    assert(Tags.newTagValue(k, "yes", null) == NewTagValue(true, "yes"))
    assert(Tags.newTagValue(k, "yes", "2.0 MW") == NewTagValue(true, "yes"))
    assert(Tags.newTagValue(k, "2.0 MW", null) == NewTagValue(true, "2.0 MW"))
    assert(Tags.newTagValue(k, "2.5 MW", "2.0 MW") == NewTagValue(true, "2.5 MW"))
    assert(Tags.newTagValue(k, "2.0 MW", "2 MW") == NewTagValue(false, null))
    assert(Tags.newTagValue(k, "2 MW", "2.0 MW") == NewTagValue(false, null))
  }

  // ---- tag_diff (test_tag_diff.sql, all 10 cases) ----
  test("tag_diff: no change") {
    assert(Tags.tagDiff(
      Map("amenity" -> "school", "name" -> "Lugnadalskolan"),
      Map("amenity" -> "school", "name" -> "Lugnadalskolan")) == Map.empty)
  }
  test("tag_diff: adds a tag") {
    assert(Tags.tagDiff(
      Map("amenity" -> "school"),
      Map("amenity" -> "school", "name" -> "Lugnadalskolan")) ==
      Map("name" -> "Lugnadalskolan"))
  }
  test("tag_diff: keeps existing tags") {
    assert(Tags.tagDiff(
      Map("amenity" -> "school", "name" -> "Lugnadalskolan"),
      Map("amenity" -> "school")) == Map.empty)
  }
  test("tag_diff: removes a tag") {
    assert(Tags.tagDiff(
      Map("amenity" -> "school", "name" -> "Lugnadalskolan"),
      Map("amenity" -> "school", "name" -> null)) == Map("name" -> null))
  }
  test("tag_diff: prefers contact:email over email") {
    assert(Tags.tagDiff(Map.empty, Map("contact:email" -> "hej@example.com")) ==
      Map("contact:email" -> "hej@example.com"))
  }
  test("tag_diff: does not add contact:email when email is already present") {
    assert(Tags.tagDiff(
      Map("email" -> "hej@example.com"),
      Map("contact:email" -> "hej@example.com")) == Map.empty)
  }
  test("tag_diff: suggests adding email when phone is already present") {
    assert(Tags.tagDiff(
      Map("phone" -> "+46123456"),
      Map("phone" -> "+46123456", "contact:email" -> "hej@example.com")) ==
      Map("email" -> "hej@example.com"))
  }
  test("tag_diff: default to contact:email when tags are inconsistent") {
    assert(Tags.tagDiff(
      Map("phone" -> "+46123456", "contact:website" -> "http://example.com"),
      Map("phone" -> "+46123456", "contact:email" -> "hej@example.com")) ==
      Map("contact:email" -> "hej@example.com"))
  }
  test("tag_diff: inconsistent but email exists") {
    assert(Tags.tagDiff(
      Map("phone" -> "+46123456", "email" -> "hej@example.com",
          "contact:website" -> "http://example.com"),
      Map("phone" -> "+46123456", "contact:email" -> "hej@example.com")) == Map.empty)
  }
  test("tag_diff: null maps behave as empty") {
    assert(Tags.tagDiff(null, Map("a" -> "1")) == Map("a" -> "1"))
    assert(Tags.tagDiff(Map("a" -> "1"), null) == Map.empty)
    assert(Tags.tagDiff(null, null) == Map.empty)
    // property: tagDiff(t, t) == {}
    val t = Map("x" -> "1", "phone" -> "070", "website" -> "https://e.com")
    assert(Tags.tagDiff(t, t) == Map.empty)
  }

  // ---- tag_alternatives (test_tag_alternatives.sql) ----
  test("tag_alternatives merges constants into each alternative") {
    assert(Tags.tagAlternatives(
      Seq(Map("leisure" -> "bathing_place"), Map("leisure" -> "swimming_area")),
      Map("name" -> "Hello")) ==
      Seq(Map("leisure" -> "bathing_place", "name" -> "Hello"),
          Map("leisure" -> "swimming_area", "name" -> "Hello")))
    // null-valued constants are stripped
    assert(Tags.tagAlternatives(Seq(Map("a" -> "1")), Map("b" -> null)) ==
      Seq(Map("a" -> "1")))
  }

  // ---- fix_phone ----
  test("fix_phone forms") {
    assert(Tags.fixPhone("012-34 56 78") == "+46 12345678")
    assert(Tags.fixPhone("+46 12 34 56 78") == "+46 12345678")
    // '00' branch splices the ORIGINAL string from position 5 (03:31), so the
    // original's space survives — double space is the reference's behavior.
    assert(Tags.fixPhone("0046 12345678") == "+46  12345678")
    assert(Tags.fixPhone("004612345678") == "+46 12345678")
    assert(Tags.fixPhone("") == "")
  }

  // ---- process_school_tags (13:1-14) ----
  test("process_school_tags drops inactive when any active, merges refs") {
    val active = Map("amenity" -> "school", "name" -> "A-skolan", "ref:se:skolverket" -> "2")
    val inactive = Map("disused:amenity" -> "school", "name" -> "B", "ref:se:skolverket" -> "9")
    val special = Map("amenity" -> "school", "name" -> "Komvux City", "ref:se:skolverket" -> "1")
    val out = Tags.processSchoolTags(Seq(special, active, inactive))
    // inactive dropped; special ordered last so 'active' provides name
    assert(out("name") == "A-skolan")
    assert(out("ref:se:skolverket") == "1;2")
  }

  // ---- match_condition / match_score ----
  test("match_condition tiers") {
    val spec = MatchSpec(Some("name"), Seq("ref"), dOther = 50, dName = 500, dRef = 1000)
    val a = Map("name" -> "Skolan", "ref" -> "1;2")
    val b = Map("name" -> "SKOLAN", "ref" -> "2;3")
    assert(Tags.matchCondition(spec, a, b, 900))         // ref overlap within 1000
    assert(Tags.matchCondition(spec, a - "ref", b, 400)) // name tier within 500
    assert(!Tags.matchCondition(spec, a - "ref", b, 600))
    assert(Tags.matchCondition(spec, Map.empty, Map.empty, 49)) // other tier
    assert(!Tags.matchCondition(spec, Map.empty, Map.empty, 51))
  }
  test("match_score tier constants and quirks") {
    val spec = MatchSpec(Some("name"), Seq("ref"), 50, 500, 1000)
    val a = Map("name" -> "Skolan", "ref" -> "1")
    val b = Map("name" -> "skolan", "ref" -> "1")
    assert(Tags.matchScore(spec, a, b, 10) == 1010.0)
    assert(Tags.matchScore(spec, a - "ref", b, 10) == 510.0) // LOWER name match
    assert(Tags.matchScore(spec, Map.empty, Map.empty, 10) == 60.0)
    // name-only overload: case-SENSITIVE comparison (03a:70)
    val nameOnly = MatchSpec(Some("name"), Nil, 100, 500)
    assert(Tags.matchScore(nameOnly, a, b, 10) == 110.0)  // case differs -> other tier
    assert(Tags.matchScore(nameOnly, a, a, 10) == 510.0)
    // 2-ref overload: ref2 equality, not overlap (03a:58)
    val two = MatchSpec(Some("name"), Seq("r1", "r2"), 50, 500, 1000)
    val ta = Map("r1" -> "1", "r2" -> "x;y")
    val tb = Map("r1" -> "1", "r2" -> "x")
    assert(Tags.matchScore(two, ta, tb, 0) == 50.0)   // overlap-but-not-equal ref2
    assert(Tags.matchCondition(two, ta, tb, 900))     // condition DOES use overlap
    assert(Tags.matchScore(two, ta, ta, 0) == 1000.0) // equal ref2
  }
}
