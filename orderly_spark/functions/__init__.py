"""Scalar/array function library: chem UDFs (pure-Python SMILES kernels), hashing."""
