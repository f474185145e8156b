package graftbench

import org.scalatest.funsuite.AnyFunSuite

class LakeSpec extends AnyFunSuite {

  test("a version manifest keeps its data files and the files its headers name") {
    val manifest = Seq(
      "#\tts\t1700000000000",
      "#\tdel\tpos-1.parquet",
      "#\tchanges\tc-7",
      "day=2024-01-01/part-0.parquet\t2024-01-01",
      "day=2024-01-02/a\\tb.parquet\t2024-01-02",
      "").mkString("\n")
    assert(Lake.manifestFiles(manifest) == Seq("_deletes/pos-1.parquet", "_changes/c-7",
      "day=2024-01-01/part-0.parquet", "day=2024-01-02/a\tb.parquet"))
  }

  test("an empty manifest keeps nothing") {
    assert(Lake.manifestFiles("#\tts\t1\n").isEmpty)
  }
}
