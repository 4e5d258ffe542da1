package graft.config

import org.scalatest.funsuite.AnyFunSuite

class SyncConfigSpec extends AnyFunSuite {

  private val yaml =
    """tables:
      |  netflix_shows:
      |    sync_config:
      |      check_column: date_added
      |      check_type: timestamp
      |      ignore_columns:
      |        - nullable_column
      |  items:
      |    sync_config:
      |      check_column: item_id
      |      check_type: id
      |  plain_table:
      |""".stripMargin

  test("parses the reference tables: map shape") {
    val cfg = SyncConfig.parse(yaml)
    assert(cfg.keySet === Set("netflix_shows", "items", "plain_table"))
    assert(cfg("netflix_shows") === TableConfig("netflix_shows",
      Some("date_added"), Some(CheckType.Timestamp), Seq("nullable_column")))
    assert(cfg("items").checkType === Some(CheckType.Id))
    assert(cfg("plain_table") === TableConfig("plain_table", None, None, Seq.empty))
  }

  test("unknown check_type maps to Other (the unreachable >= branch)") {
    assert(CheckType.parse("version") === CheckType.Other)
  }

  test("empty/absent/null yaml yields empty catalog") {
    assert(SyncConfig.parse("") === Map.empty)
    assert(SyncConfig.parse("other_key: 1") === Map.empty)
    assert(SyncConfig.parse("tables:\n") === Map.empty) // present-but-null key
  }
}
