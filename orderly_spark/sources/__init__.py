"""Sources & sinks (SURVEY §2.1).

- ``ord``      ORD protobuf datasets: binaryFile scan + mapInPandas
  decode (S1-S5); the protobuf parse is the pure-Python wire codec in
  ``ord_wire.py`` (no ord-schema needed). ``scan_ord_files`` →
  ``decode_reactions`` is the only way ORD files become rows.
- ``solvents`` the solvent dimension table (S8) + molecule-name CSV
  list round-trip (S7).
"""
