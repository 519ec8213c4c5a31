SELECT * FROM (VALUES
('/tmp/graft-src-fixtures/multiframe/img_00000000.tiff', '2209680760', '0', 'bc6c449ab19726eaa0b2ed8b8cb60aed', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000001.tiff', '2238309911', '0', '3a33b33293046349b8bd5c9f92468a68', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000002.tiff', '2266939062', '0', '14a6d5340a7f354ae3cc24889e4fac68', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000003.tiff', '2295568213', '0', 'a307f6622d3a6f82611dd3deb533909c', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000004.tiff', '2324197364', '0', '2faec1e1fe9071303646d7b32c65b8ba', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000005.tiff', '2352826515', '0', 'e190a27af53e29659c701abbf6cbc8c1', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000006.tiff', '2381455666', '0', 'f341ea041be1ec1d055acf937be10e91', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000007.tiff', '2410084817', '0', '3e1d147155f2f520c30fbd6bd334b888', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000008.tiff', '2438713968', '0', 'd3910e589510411cbabe4dad03ed8ee5', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000009.tiff', '2467343119', '0', 'f7e161302bd7f9b6158dad600fa26239', '104594567664116d41e4e43832ce94d9'),
('/tmp/graft-src-fixtures/multiframe/img_00000010.tiff', '3097184441', '0', '9cc25dca1193666429d4a570b195d8ed', '104594567664116d41e4e43832ce94d9')
) AS t(meta_path, meta_idx, meta_id, row_digest, schema_digest)
ORDER BY meta_path, meta_idx, meta_id