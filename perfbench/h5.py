"""Reader for the subset of HDF5 that the program's AnnData sink writes
(superblock v0, v1 object headers, symbol-table groups, contiguous
datasets of float32/float64/int64 and variable-length strings). It is
written from the HDF5 file format specification, independently of the
program's writer, so the benchmark can check `.h5ad` outputs without
h5py.
"""
import struct

import numpy as np


class H5File:
    def __init__(self, path):
        with open(path, "rb") as f:
            self.b = f.read()
        if self.b[:8] != b"\x89HDF\r\n\x1a\n":
            raise ValueError(f"{path}: not an HDF5 file")
        if self.b[8] != 0:
            raise ValueError(f"{path}: superblock version {self.b[8]} unsupported")
        # root group symbol table entry: its object header address
        self.root = self.u64(64)

    def u16(self, p):
        return struct.unpack_from("<H", self.b, p)[0]

    def u32(self, p):
        return struct.unpack_from("<I", self.b, p)[0]

    def u64(self, p):
        return struct.unpack_from("<Q", self.b, p)[0]

    def messages(self, addr):
        """(type, body offset, body size) of a v1 object header"""
        if self.b[addr] != 1:
            raise ValueError(f"object header version {self.b[addr]} at {addr}")
        n = self.u16(addr + 2)
        p = addr + 16
        out = []
        for _ in range(n):
            t, size = self.u16(p), self.u16(p + 2)
            out.append((t, p + 8, size))
            p += 8 + size
        return out

    def cstr(self, p):
        return self.b[p:self.b.index(b"\x00", p)].decode("ascii")

    def children(self, addr):
        """name -> object header address of a symbol-table group"""
        msg = [m for m in self.messages(addr) if m[0] == 0x11]
        if not msg:
            raise ValueError(f"object at {addr} is not a group")
        btree, heap = self.u64(msg[0][1]), self.u64(msg[0][1] + 8)
        if self.b[heap:heap + 4] != b"HEAP":
            raise ValueError("bad local heap signature")
        names = self.u64(heap + 24)
        out = {}
        self._walk(btree, names, out)
        return out

    def _walk(self, node, names, out):
        if self.b[node:node + 4] != b"TREE":
            raise ValueError("bad B-tree signature")
        level, used = self.b[node + 5], self.u16(node + 6)
        p = node + 24 + 8  # past the header and key 0
        for _ in range(used):
            child = self.u64(p)
            if level > 0:
                self._walk(child, names, out)
            else:
                if self.b[child:child + 4] != b"SNOD":
                    raise ValueError("bad symbol node signature")
                for i in range(self.u16(child + 6)):
                    e = child + 8 + 40 * i
                    out[self.cstr(names + self.u64(e))] = self.u64(e + 8)
            p += 16

    def get(self, path):
        addr = self.root
        for part in [x for x in path.split("/") if x]:
            addr = self.children(addr)[part]
        return addr

    def dataset(self, path):
        """numpy array (numeric) or list of str (vlen strings)"""
        dims, cls, size, data = None, None, None, None
        for t, p, _ in self.messages(self.get(path)):
            if t == 0x1:
                rank = self.b[p + 1]
                dims = [self.u64(p + 8 + 8 * i) for i in range(rank)]
            elif t == 0x3:
                cls, size = self.b[p] & 0x0F, self.u32(p + 4)
            elif t == 0x8:
                if self.b[p] != 3 or self.b[p + 1] != 1:
                    raise ValueError("only contiguous v3 layouts are supported")
                data = (self.u64(p + 2), self.u64(p + 10))
        n = int(np.prod(dims)) if dims else 1
        addr, nbytes = data
        if nbytes != n * size:
            raise ValueError(f"{path}: {nbytes} data bytes for {n} x {size}")
        if cls == 9:
            return [self._vlen(addr + 16 * i) for i in range(n)]
        dtype = {(1, 4): "<f4", (1, 8): "<f8", (0, 8): "<i8"}[(cls, size)]
        return np.frombuffer(self.b, dtype=dtype, count=n, offset=addr).reshape(dims)

    def _vlen(self, p):
        length, coll, idx = self.u32(p), self.u64(p + 4), self.u32(p + 12)
        if length == 0:
            return ""
        if self.b[coll:coll + 4] != b"GCOL":
            raise ValueError("bad global heap signature")
        end = coll + self.u64(coll + 8)
        q = coll + 16
        while q < end:
            oidx, osize = self.u16(q), self.u64(q + 8)
            if oidx == idx:
                return self.b[q + 16:q + 16 + length].decode("utf-8")
            if oidx == 0:
                break
            q += 16 + (osize + 7) // 8 * 8
        raise ValueError(f"global heap object {idx} not found")


def read_anndata(path):
    """(X, var names, obs columns by name) of one .h5ad file"""
    f = H5File(path)
    x = f.dataset("X")
    var = f.dataset("var/_index")
    obs = {name: f.dataset(f"obs/{name}") for name in f.children(f.get("obs"))}
    return x, var, obs
