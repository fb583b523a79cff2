package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Layered config precedence — reference jonesy.py:7-11:
  * `.env.shared` < `.env.secret` < process env. */
class ConfigSpec extends AnyFunSuite with SharedSpark {

  private def write(dir: String, name: String, body: String): Unit =
    Files.write(java.nio.file.Paths.get(dir, name), body.getBytes("UTF-8"))

  test("secret overrides shared, process env overrides both") {
    val dir = tempDir("cfg").toString
    write(dir, ".env.shared",
      """# shared defaults
        |A=from_shared
        |B=from_shared
        |C=from_shared
        |""".stripMargin)
    write(dir, ".env.secret",
      """B=from_secret
        |C=from_secret
        |""".stripMargin)
    val merged = Config.load(dir, env = Map("C" -> "from_env"))
    assert(merged("A") == "from_shared")
    assert(merged("B") == "from_secret")
    assert(merged("C") == "from_env")
  }

  test("dotenv parsing: quotes, export prefix, comments, missing file") {
    val dir = tempDir("cfg2").toString
    write(dir, ".env.shared",
      """export K1="quoted value"
        |K2='single'
        |# K3=commented-out
        |K4=a=b=c
        |""".stripMargin)
    val merged = Config.load(dir, env = Map.empty)
    assert(merged("K1") == "quoted value")
    assert(merged("K2") == "single")
    assert(!merged.contains("K3"))
    assert(merged("K4") == "a=b=c")
    // no .env.secret present — the layer is just empty
    assert(Config.load(tempDir("cfg3").toString,
      env = Map("ONLY" -> "env")) == Map("ONLY" -> "env"))
  }
}
