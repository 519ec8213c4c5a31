SELECT * FROM (VALUES
('synthetic://conftest/0', '0', '0', '2438b84f38e5634c98731ba6c824383b', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/1', '1', '0', '9c313697e8fc1bb314a18930e5f4f9cb', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/2', '2', '0', '2fed547d39d774754393c4db5c0d5b8b', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/3', '3', '0', '110bfc64c259c4a2efb272c3b37f5839', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/4', '4', '0', '8dcc3fc0f9e3fa754e7ddeca64fe3f58', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/5', '5', '0', 'b2ff38045004cad36225793daa7f87fa', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/6', '6', '0', '70123825638a464f5a0794504a7eaccb', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/7', '7', '0', 'f379599fd11166824164ad737a8c9640', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/8', '8', '0', 'e76eba0e32ee1eb40ab606216952cd00', '70cc8a2666508be6e5e2d4b22b67c1e6'),
('synthetic://conftest/9', '9', '0', 'aad9d3981734c01ed75b98c3696bf641', '70cc8a2666508be6e5e2d4b22b67c1e6')
) AS t(meta_path, meta_idx, meta_id, row_digest, schema_digest)
ORDER BY meta_path, meta_idx, meta_id