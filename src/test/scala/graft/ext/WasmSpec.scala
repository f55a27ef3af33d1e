package graft.ext

import org.scalatest.funsuite.AnyFunSuite

class WasmSpec extends AnyFunSuite {

  test("round-trip: sections, index spaces, limits, bodies recover the closed forms") {
    var sawImport = false
    var sawNoImport = false
    var sawMax = false
    for (id <- 0L until 96L) {
      val m = Wasm.parseWasm(id, Wasm.renderWasm(id))
      val nf = Wasm.nFuncsOf(id)
      val imported = if (Wasm.hasImportOf(id)) 1 else 0
      if (imported == 1) sawImport = true else sawNoImport = true
      assert(m.n_sections == (if (imported == 1) 6 else 5), s"wasm $id sections")
      assert(m.n_types == 2, s"wasm $id types")
      assert(m.n_imports == imported, s"wasm $id imports")
      assert(m.n_funcs == nf + imported, s"wasm $id funcs (index space)")
      assert(m.n_exports == nf + 1, s"wasm $id exports")
      assert(m.exports == (0 until nf).map(Wasm.exportNameOf(id, _)).mkString(","),
        s"wasm $id export names (funcs only)")
      assert(m.mem_min == Wasm.memPagesOf(id), s"wasm $id mem min")
      assert(m.mem_max == Wasm.memMaxOf(id).getOrElse(-1L), s"wasm $id mem max")
      if (m.mem_max >= 0) sawMax = true
      // bodies: even funcs 2 bytes (0 locals + end), odd 4 (local.get 0)
      val expectedCode = (0 until nf).map(j => if (j % 2 == 0) 2L else 4L).sum
      assert(m.code_bytes == expectedCode, s"wasm $id code bytes")
    }
    assert(sawImport && sawNoImport && sawMax, "import and limits arms occur")
  }

  test("section ordering: a non-custom section out of order quarantines") {
    // build magic + version + memory(5) then type(1): descending ids
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0, 'a', 's', 'm', 1, 0, 0, 0), 0, 8)
    out.write(5); out.write(3); out.write(1); out.write(0); out.write(1) // memory
    out.write(1); out.write(1); out.write(0) // empty type section after
    assert(Wasm.parseWasmSafe(1L, out.toByteArray).isEmpty, "descending ids")
  }

  test("DataCount (12) is accepted in its spec position BEFORE code, not after") {
    // type(empty) + function(empty) + datacount + code(empty): valid order
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0, 'a', 's', 'm', 1, 0, 0, 0), 0, 8)
    out.write(1); out.write(1); out.write(0) // type: 0 entries
    out.write(3); out.write(1); out.write(0) // function: 0 entries
    out.write(12); out.write(1); out.write(0) // datacount: 0
    out.write(10); out.write(1); out.write(0) // code: 0 bodies
    assert(Wasm.parseWasmSafe(1L, out.toByteArray).isDefined,
      "LLVM's datacount-before-code order must parse")
    // and code BEFORE datacount (numerically ascending!) must NOT
    val bad = new java.io.ByteArrayOutputStream()
    bad.write(Array[Byte](0, 'a', 's', 'm', 1, 0, 0, 0), 0, 8)
    bad.write(10); bad.write(1); bad.write(0)
    bad.write(12); bad.write(1); bad.write(0)
    assert(Wasm.parseWasmSafe(1L, bad.toByteArray).isEmpty,
      "datacount after code violates the spec order")
  }

  test("memory/table/global export indexes are bounds-checked too") {
    // export a memory at index 1 while defining none
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array[Byte](0, 'a', 's', 'm', 1, 0, 0, 0), 0, 8)
    val body = new java.io.ByteArrayOutputStream()
    body.write(1) // one export
    body.write(3); body.write('m'); body.write('e'); body.write('m')
    body.write(0x02); body.write(1) // memory index 1, no memory defined
    out.write(7); out.write(body.size); out.write(body.toByteArray, 0, body.size)
    assert(Wasm.parseWasmSafe(1L, out.toByteArray).isEmpty,
      "memory export past the index space quarantines")
  }

  test("cross-section rules: code/function count mismatch and bad export index") {
    val good = Wasm.renderWasm(0L)
    assert(Wasm.parseWasmSafe(0L, good).isDefined)
    // flip the export index of the first export past the function space:
    // find the first export name and bump the index byte after kind 0x00
    val nm = Wasm.exportNameOf(0L, 0).getBytes("UTF-8")
    val at = good.indexOfSlice(nm)
    assert(at > 0)
    val bad = good.clone()
    bad(at + nm.length + 1) = 99.toByte // the func index LEB (single byte here)
    assert(Wasm.parseWasmSafe(0L, bad).isEmpty, "export index out of space")
  }

  test("damage ladder: magic, version, section size, body end byte, truncation") {
    val id = 7L
    val good = Wasm.renderWasm(id)
    def mut(at: Int, v: Byte): Array[Byte] = { val b = good.clone(); b(at) = v; b }
    assert(Wasm.parseWasmSafe(id, mut(0, 1.toByte)).isEmpty, "magic")
    assert(Wasm.parseWasmSafe(id, mut(4, 2.toByte)).isEmpty, "version")
    assert(Wasm.parseWasmSafe(id, good.take(good.length - 1)).isEmpty, "lost end byte")
    assert(Wasm.parseWasmSafe(id, good ++ Array[Byte](0x0b)).isEmpty, "trailing byte")
    assert(Wasm.parseWasmSafe(id, good.take(10)).isEmpty, "truncation")
    assert(Wasm.parseWasmSafe(id, Array.emptyByteArray).isEmpty)
    // the first section's size as a non-minimal LEB128-u32: 5 bytes is
    // legal, one byte past the u32 bound quarantines
    val r = BitsSpec.cursor(good); r.pos = 9
    val size = r.uvarint(5)
    def sizeIn(n: Int) = good.take(9) ++ BitsSpec.padded(size, n) ++ good.drop(r.pos)
    assert(Wasm.parseWasmSafe(id, sizeIn(5)) == Wasm.parseWasmSafe(id, good))
    assert(Wasm.parseWasmSafe(id, sizeIn(6)).isEmpty, "6-byte section size")
  }

  test("operator: damaged module quarantines alone (Spark)") {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val docs = (0L until 24L).map(Tuple1(_)).toDF("doc_id")
    val mixed = Wasm.encodeWasm(docs).as[(Long, Array[Byte])].map { case (id, b) =>
      if (id == 8L) (id, b.take(b.length - 2)) else (id, b)
    }.toDF("doc_id", "wasm")
    val got = Wasm.wasmMeta(mixed).collect()
    assert(!got.exists(_.doc_id == 8L))
    assert(got.length == 23)
  }
}
